package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the streaming transforms: the same logic over readStream input
  * (memory sink, processAllAvailable) reproduces the batch result, and
  * the stateful sessionizer agrees with the closed-form SQL twin.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("streaming hourlyByType over file source equals batch result") {
    val batchEvents = Engine.table(spark, sf, "events")
    val expected = Streams.hourlyByType(batchEvents, streaming = false)
      .collect().map(_.toString).sorted

    // Re-write events as a standard-timestamp parquet dir to act as the
    // stream source (the ns-timestamp original needs the read-side conv).
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src_").toString
    batchEvents.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.hourlyByType(stream, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      // Append mode only emits windows closed by the watermark; feed one
      // more batch far in the future to flush, then drain again.
      import spark.implicits._
      val flush = Seq((999999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      flush.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .filter(col("event_type") =!= "flush")
        .collect().map(_.toString).sorted
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("stateful sessionize agrees with the closed-form SQL sessionization") {
    import spark.implicits._
    val evts = Engine.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
      .as[Streams.Evt]
    val stateful = Streams.sessionize(evts, gapMinutes = 30)
      .collect()
      .map(s => (s.user_id, s.n_events))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap

    val sql = queries.Events.sessionize.run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2).toInt))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap

    assert(stateful == sql)
  }

  test("native session_window returns the same sessions as the state machine") {
    import spark.implicits._
    val events = Engine.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    def key(u: Long, n: Int, s: java.sql.Timestamp, e: java.sql.Timestamp) =
      (u, n, s.getTime, e.getTime)
    val native = Streams.sessionizeNative(events, gapMinutes = 30, streaming = false)
      .collect()
      .map(r => key(r.getLong(0), r.getInt(1), r.getTimestamp(2), r.getTimestamp(3)))
      .sorted
    val stateful = Streams.sessionize(events.as[Streams.Evt], gapMinutes = 30)
      .collect().map(s => key(s.user_id, s.n_events, s.start_ts, s.end_ts)).sorted
    assert(native.nonEmpty && native.sameElements(stateful))

    // and the streaming run produces the identical closed sessions
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sess_src_").toString
    events.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.sessionizeNative(stream, gapMinutes = 30, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_native_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_native_out")
        .collect()
        .map(r => key(r.getLong(0), r.getInt(1), r.getTimestamp(2), r.getTimestamp(3)))
        .sorted
      // append mode emits only watermark-closed sessions; on a finite file
      // source everything before the final watermark closes — sessions at
      // the very end of the data may be withheld, so compare as a subset
      // plus a floor to keep the test meaningful
      assert(got.length >= native.length / 2, "streaming emitted too few sessions")
      assert(got.toSet.subsetOf(native.toSet))
    } finally q.stop()
  }

  test("streaming hourly top-k ranks each closed window once, exactly") {
    val events = Engine.table(spark, sf, "events")
    // batch expectation: top-2 types per hour over the full data
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start")).orderBy(col("n").desc, col("event_type"))
    val expected = Streams.hourlyByType(events, streaming = false)
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rnk") <= 2)
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getInt(4)))
      .toSet

    val srcDir = java.nio.file.Files.createTempDirectory("graft_topk_src_").toString
    events.select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Int)]
    val q = Streams.hourlyTopTypes(stream, k = 2) { ranked =>
      got ++= ranked.collect().map(r =>
        (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getInt(4)))
    }
    try {
      q.processAllAvailable()
      // append emits only watermark-closed windows; everything emitted
      // must match the batch ranks exactly, and each window exactly once
      assert(got.nonEmpty && got.size == got.toSet.size, "a window was ranked twice")
      assert(got.toSet.subsetOf(expected))
      assert(got.size >= expected.size / 2, "streaming emitted too few windows")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    val events = Engine.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"))
    def side(t: String) = events.filter(col("event_type") === t)
    val expected = Streams.viewsBeforePurchase(side("view"), side("purchase"), streaming = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    val srcDir = java.nio.file.Files.createTempDirectory("graft_ssj_src_").toString
    events.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def stream(t: String) = spark.readStream.schema(schema).parquet(srcDir)
      .filter(col("event_type") === t)
    val q = Streams.viewsBeforePurchase(stream("view"), stream("purchase"), streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      // advance both watermarks far past the data so all matches emit
      import spark.implicits._
      val flush = Seq(
        (8888888L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 1L, "view", 0.0, "{}"),
        (9999999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 1L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      flush.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .filter(col("purchase_id") =!= 9999999L && col("view_id") =!= 8888888L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming repetition scoring equals batch (stateless projection)") {
    import spark.implicits._
    val docs = Engine.table(spark, sf, "documents").select("doc_id", "text")
    val expected = queries.TextAnalysis.scoreRepetition(docs)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

    val srcDir = java.nio.file.Files.createTempDirectory("graft_rep_src_").toString
    docs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = queries.TextAnalysis.scoreRepetition(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("rep_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("rep_out")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming pii scrub equals batch (stateless projection)") {
    val docs = Engine.table(spark, sf, "documents").select("doc_id", "text")
    val expected = queries.TextAnalysis.scrubPii(docs)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

    val srcDir = java.nio.file.Files.createTempDirectory("graft_pii_src_").toString
    docs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = queries.TextAnalysis.scrubPii(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("pii_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pii_out")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming source mixing equals batch (stateless explode+filter)") {
    val docs = Engine.table(spark, sf, "documents").select("doc_id", "source")
    val expected = queries.Curate.mixTransform(docs)
      .collect().map(_.toSeq).sortBy(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Int]))

    val srcDir = java.nio.file.Files.createTempDirectory("graft_mix_src_").toString
    docs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = queries.Curate.mixTransform(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("mix_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mix_out")
        .collect().map(_.toSeq).sortBy(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Int]))
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming fingerprint dedup keeps one doc per distinct text") {
    import spark.implicits._
    // documents has no event time; synthesize arrival order as timestamps,
    // and append re-sends of the first 10 docs (the corpus has no exact
    // duplicates at this SF) arriving 60s later under new ids.
    val base = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000)
          + col("doc_id")).cast("timestamp").as("ts"))
    val docs = base.unionByName(
      base.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("ts", (col("ts").cast("long") + 60).cast("timestamp")))
    val expectedFps = Streams.dedupByFingerprint(docs, streaming = false)
      .select("fp").as[String].collect().sorted

    val srcDir = java.nio.file.Files.createTempDirectory("graft_dedup_src_").toString
    docs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.dedupByFingerprint(stream, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("fp").as[String].collect().sorted
      assert(got.sameElements(expectedFps))
      // and it actually deduplicates: corpus has duplicate texts
      assert(got.length < docs.count())
    } finally q.stop()
  }

  test("streaming near-dup probe against a static index equals batch") {
    val docs = Engine.table(spark, sf, "documents").select("doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val indexDocs = docs.filter(col("doc_id") % 10 =!= 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val expected = Streams.nearDupProbe(newDocs, indexDocs)
      .collect().map(key).sorted
    assert(expected.nonEmpty, "probe corpus has no near-dups — test is vacuous")
    // cross-check against the oracle-gated batch operator's pair set
    val viaQuery = queries.Dedup.incrementalPairs(spark, sf)
      .collect().map(key).sorted
    assert(expected.sameElements(viaQuery))

    val srcDir = java.nio.file.Files.createTempDirectory("graft_probe_src_").toString
    newDocs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.nearDupProbe(stream, indexDocs)
      .writeStream.outputMode("append").format("memory")
      .queryName("probe_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("probe_out").collect().map(key).sorted
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming span-anchor probe equals batch and a first-principles anchor match") {
    val docs = Engine.table(spark, sf, "documents").select("doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val indexDocs = docs.filter(col("doc_id") % 10 =!= 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val expected = Streams.spanDupProbe(newDocs, indexDocs)
      .collect().map(key).sorted
    assert(expected.nonEmpty, "no shared spans between the slices — test is vacuous")

    // first-principles: kernel anchors computed directly per doc in Scala
    def anchorsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map { r =>
        val t = r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")
        r.getLong(0) ->
          graft.functions.WinnowAnchors.compute(t.getBytes("UTF-8"), 64, 16).toSet
      }.toMap
    val idxFps = anchorsOf(indexDocs).values.flatten.toSet
    val direct = (for {
      (id, fps) <- anchorsOf(newDocs).toSeq
      fp <- fps if idxFps.contains(fp)
    } yield (id, fp)).sorted
    assert(expected.sameElements(direct),
      s"probe diverged from direct anchor match: ${expected.length} vs ${direct.length}")

    val srcDir = java.nio.file.Files.createTempDirectory("graft_span_src_").toString
    newDocs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.spanDupProbe(stream, indexDocs)
      .writeStream.outputMode("append").format("memory")
      .queryName("span_probe_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("span_probe_out").collect().map(key).sorted
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming probe of the PERSISTED band index equals batch and dedup_indexed") {
    val docs = Engine.table(spark, sf, "documents").select("doc_id", "text")
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val indexDocs = docs.filter(col("doc_id") % 10 =!= 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))

    val idx = java.nio.file.Files
      .createTempDirectory("graft_stream_bidx_").resolve("index").toString
    queries.Dedup.writeBandIndex(spark, sf, idx)

    // batch call ≡ the oracle-gated stored-index census operator
    val expected = queries.Dedup.probeBandIndex(spark, sf, idx)
      .collect().map(key).sorted
    assert(expected.nonEmpty, "probe corpus has no near-dups — test is vacuous")
    val viaStream = Streams.indexedNearDupProbe(newDocs, indexDocs, spark, idx)
      .collect().map(key).sorted
    assert(viaStream.sameElements(expected),
      s"batch-called streaming probe diverged: ${viaStream.length} vs ${expected.length}")

    // the same plan as a real stream over the delta batch
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bidx_src_").toString
    newDocs.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.indexedNearDupProbe(stream, indexDocs, spark, idx)
      .writeStream.outputMode("append").format("memory")
      .queryName("bidx_probe_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("bidx_probe_out").collect().map(key).sorted
      assert(got.sameElements(expected))
    } finally q.stop()
  }

  test("streaming multiset ingestion equals batch appends; replay is a no-op") {
    import graft.sources.MultisetStore
    val region = Engine.table(spark, sf, "region")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ms_src_").toString
    region.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val path = java.nio.file.Files
      .createTempDirectory("graft_ms_stream_").resolve("t").toString
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = Streams.multisetIngest(stream, path)
    try {
      q.processAllAvailable()
      // feed a second batch: region again → every tuple's freq reaches 2
      region.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()

    val expected = region.unionAll(region)
      .collect().map(_.toString).sorted
    val got = MultisetStore.read(spark, path).collect().map(_.toString).sorted
    assert(got.sameElements(expected), s"${got.length} vs ${expected.length}")

    // idempotence: re-applying an already-committed micro-batch token is
    // a no-op — the foreachBatch retry contract
    val before = MultisetStore.read(spark, path).count()
    assert(!MultisetStore.appendDeltaIdempotent(spark, path, region, "ingest_0"))
    assert(MultisetStore.read(spark, path).count() == before)

    // a retraction stream (freq = -1) removes one copy per row
    val retractSrc = java.nio.file.Files.createTempDirectory("graft_ms_retr_").toString
    region.filter(col("r_regionkey") < 2).write.mode("overwrite").parquet(retractSrc)
    val rq = Streams.multisetIngest(
      spark.readStream.schema(schema).parquet(retractSrc), path,
      freq = -1L, feed = "retract")
    try rq.processAllAvailable() finally rq.stop()
    val after = MultisetStore.snapshot(spark, path)
    assert(after.filter(col("r_regionkey") < 2)
      .agg(sum(col(MultisetStore.freqCol))).head.getLong(0) == 2L) // 2 keys × freq 1
    assert(after.filter(col("r_regionkey") >= 2)
      .agg(sum(col(MultisetStore.freqCol))).head.getLong(0) == 6L) // 3 keys × freq 2

    // a batch of a wider type (bigint into the int r_regionkey) is fitted
    // like appendDelta's: merged on write, so the table still reads back,
    // and its token still makes the replay a no-op
    val wide = region.withColumn("r_regionkey", col("r_regionkey").cast("bigint"))
    val rows = MultisetStore.read(spark, path).count()
    assert(MultisetStore.appendDeltaIdempotent(spark, path, wide, "ingest_wide"))
    assert(MultisetStore.read(spark, path).count() == rows + region.count())
    assert(!MultisetStore.appendDeltaIdempotent(spark, path, wide, "ingest_wide"))
    assert(MultisetStore.read(spark, path).count() == rows + region.count())
  }
}
