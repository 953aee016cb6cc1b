package graft

import graft.ivm.IncrementalAggView
import graft.sources.MultisetStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def norm(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** File inventory (path, length, mtime) of a segment directory — the
    * O(|delta|) pins compare it across an edit to prove the base segment
    * was never rewritten. */
  private def inventory(root: String): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (p.toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    finally s.close()
  }

  test("incremental refresh over 3 delta batches equals full recompute") {
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    val statePath = java.nio.file.Files.createTempDirectory("ivm_spec_").toString
    val view = new IncrementalAggView(
      spark, Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"), statePath)
    view.initialize(li)

    // Three deterministic delta batches: retract, insert, mixed.
    val liK = Engine.table(spark, sf, "lineitem")
    val d1 = liK.filter(col("l_orderkey") % 5 === 0)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        lit(-1L).as(view.freqCol))
    val d2 = liK.filter(col("l_orderkey") % 3 === 0)
      .select(col("l_returnflag"), (col("l_quantity") + 1).as("l_quantity"),
        col("l_extendedprice"), lit(2L).as(view.freqCol))
    val d3 = d2.withColumn(view.freqCol, lit(-2L)) // retract d2 entirely
    Seq(d1, d2, d3).foreach(view.applyDelta)
    assert(view.currentVersion == 3)

    // From-scratch recompute of the equivalent multiset: base minus d1.
    val expected = liK.filter(!(col("l_orderkey") % 5 === 0))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_l_quantity"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_l_extendedprice"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_l_quantity"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_l_extendedprice"))

    assert(norm(view.current()) == norm(expected))
  }

  test("time travel: every snapshot version stays queryable after deltas") {
    import spark.implicits._
    val statePath = java.nio.file.Files.createTempDirectory("ivm_tt_").toString
    val view = new IncrementalAggView(spark, Seq("k"), Seq("v"), statePath)
    view.initialize(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))
    view.applyDelta(Seq(("a", 5.0, 1L)).toDF("k", "v", view.freqCol))
    view.applyDelta(Seq(("b", 2.0, -1L)).toDF("k", "v", view.freqCol))

    def counts(v: Int) = view.at(v).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(counts(0) == Map("a" -> 1L, "b" -> 1L))
    assert(counts(1) == Map("a" -> 2L, "b" -> 1L))
    assert(counts(2) == Map("a" -> 2L))
    intercept[IllegalArgumentException](view.at(3))
  }

  test("full retraction of a group removes it from the view") {
    import spark.implicits._
    val statePath = java.nio.file.Files.createTempDirectory("ivm_spec2_").toString
    val view = new IncrementalAggView(spark, Seq("k"), Seq("v"), statePath)
    val base = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v")
    view.initialize(base)
    assert(view.current().count() == 2)

    val retractA = Seq(("a", 1.0, -1L), ("a", 2.0, -1L)).toDF("k", "v", view.freqCol)
    view.applyDelta(retractA)
    val remaining = view.current().collect()
    assert(remaining.length == 1 && remaining(0).getString(0) == "b")
  }

  test("streaming maintenance: foreachBatch deltas reach the same state as batch applyDelta") {
    import org.apache.spark.sql.types._
    val statePath = java.nio.file.Files.createTempDirectory("ivm_stream_").toString
    val deltaDir = java.nio.file.Files.createTempDirectory("ivm_deltas_").toString
    val view = new IncrementalAggView(spark, Seq("o_orderstatus"), Seq("o_totalprice"), statePath)
    val orders = Engine.table(spark, sf, "orders")
      .select(col("o_orderstatus"), col("o_totalprice"))
    view.initialize(orders)

    // Stage two delta files, then drain them through the streaming path.
    val d1 = Engine.table(spark, sf, "orders")
      .filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderstatus"), col("o_totalprice"), lit(-1L).as(view.freqCol))
    d1.write.parquet(s"$deltaDir/d1")
    val schema = StructType(Seq(
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField(view.freqCol, LongType)))
    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(deltaDir)
    val q = view.maintainFrom(stream)
    try {
      q.processAllAvailable()
      val expected = Engine.table(spark, sf, "orders")
        .filter(!(col("o_orderkey") % 4 === 0))
        .groupBy(col("o_orderstatus")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = view.current().collect()
        .map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
      assert(got == expected)
    } finally q.stop()
  }

  test("replay guard: a batchId applied twice changes neither version nor view") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivm_replay_").toString
    val agg = new IncrementalAggView(spark, Seq("k"), Seq("v"), s"$tmp/agg")
    agg.initialize(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"))
    val delta = Seq(("a", 3.0, 1L), ("b", 2.0, -1L)).toDF("k", "v", agg.freqCol)
    assert(agg.applyBatch(delta, "q_0"))
    val (version, view) = (agg.currentVersion, norm(agg.current()))
    assert(!agg.applyBatch(delta, "q_0"))
    assert(agg.currentVersion == version && norm(agg.current()) == view)
    assert(view == Seq("[a,2,4.00,2.0]"))

    val ext = new graft.ivm.IncrementalExtremaView(spark, Seq("k"), "v", s"$tmp/ext")
    ext.initialize(Seq(("a", 1), ("a", 5)).toDF("k", "v"))
    val retract = Seq(("a", 5, -1L)).toDF("k", "v", MultisetStore.freqCol)
    assert(ext.applyBatch(retract, "q_0"))
    val (versions, extrema) = (MultisetStore.versions(s"$tmp/ext"), norm(ext.current()))
    assert(!ext.applyBatch(retract, "q_0"))
    assert(MultisetStore.versions(s"$tmp/ext") == versions && norm(ext.current()) == extrema)
    assert(extrema == Seq("[a,1,1]"))
  }

  test("replay guard: a second stream over the same view is not taken for a replay") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivm_replay_streams_").toString
    val view = new IncrementalAggView(spark, Seq("k"), Seq("v"), path)
    view.initialize(Seq(("a", 1.0)).toDF("k", "v"))
    val delta = Seq(("a", 1.0, 1L)).toDF("k", "v", view.freqCol)
    for (_ <- 1 to 2) { // each stream's only micro-batch is batch 0
      val dir = java.nio.file.Files.createTempDirectory("ivm_replay_in_").toString
      delta.write.mode("overwrite").parquet(s"$dir/d")
      val q = view.maintainFrom(spark.readStream.schema(delta.schema)
        .option("recursiveFileLookup", "true").parquet(dir))
      try q.processAllAvailable() finally q.stop()
    }
    assert(norm(view.current().select("k", "cnt")) == Seq("[a,3]"))
    val tokens = MultisetStore.versions(path).flatMap(v =>
      Option(new java.io.File(s"$path/v$v").list()).toSeq.flatten.filter(_.startsWith("_TOKEN_")))
    assert(tokens.size == 2 && tokens.distinct.size == 2, tokens)
  }

  test("freq > 1 counts as that many rows") {
    import spark.implicits._
    val statePath = java.nio.file.Files.createTempDirectory("ivm_spec3_").toString
    val view = new IncrementalAggView(spark, Seq("k"), Seq("v"), statePath)
    view.initialize(Seq(("a", 10.0)).toDF("k", "v"))
    view.applyDelta(Seq(("a", 10.0, 4L)).toDF("k", "v", view.freqCol))
    val r = view.current().collect()(0)
    assert(r.getAs[Long]("cnt") == 5L)
    assert(r.getAs[java.math.BigDecimal]("sum_v").doubleValue() == 50.0)
  }

  test("incremental join view: delta rule, freq multiplication, retraction, time travel") {
    import spark.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("ivm_join_spec_").resolve("s").toString
    val view = new graft.ivm.IncrementalJoinView(spark, Seq("k"), statePath)
    val a = Seq((1, "x"), (1, "x"), (2, "y"), (3, "z")).toDF("k", "av")
    val b = Seq((1, "B1"), (2, "B2"), (4, "B4")).toDF("k", "bv")
    view.initialize(a, b)

    // v0: (1,x,B1) freq 2 (duplicate A tuple compacts to freq 2), (2,y,B2) freq 1
    def read(v: Int) = view.at(v).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(read(0) == Set((1, "x", "B1", 2L), (2, "y", "B2", 1L)))

    // delta 1: duplicate b-side key 1 → join freq MULTIPLIES to 4
    view.applyDelta(None, Some(Seq((1, "B1", 1L)).toDF("k", "bv", view.freqCol)))
    assert(read(1) == Set((1, "x", "B1", 4L), (2, "y", "B2", 1L)))

    // delta 2: retract one copy of (1, x) → freq 1·2(b) = 2 removed → 2 left;
    // insert (4, w) → joins the pre-existing B4 row
    view.applyDelta(
      Some(Seq((1, "x", -1L), (4, "w", 1L)).toDF("k", "av", view.freqCol)), None)
    assert(read(2) == Set((1, "x", "B1", 2L), (2, "y", "B2", 1L), (4, "w", "B4", 1L)))

    // delta 3: retract the remaining (1, x) → the group vanishes entirely
    view.applyDelta(Some(Seq((1, "x", -1L)).toDF("k", "av", view.freqCol)), None)
    assert(read(3) == Set((2, "y", "B2", 1L), (4, "w", "B4", 1L)))

    // time travel: every version still reads back unchanged
    assert(read(0) == Set((1, "x", "B1", 2L), (2, "y", "B2", 1L)))
    assert(read(1) == Set((1, "x", "B1", 4L), (2, "y", "B2", 1L)))
    assert(view.currentVersion == 3)
  }

  test("join view deltas reconcile snapshots: V(n) = compact(V(n-1) ∪ ΔV(n))") {
    import spark.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("ivm_dv_spec_").resolve("s").toString
    val view = new graft.ivm.IncrementalJoinView(spark, Seq("k"), statePath)
    view.initialize(
      Seq((1, "x"), (2, "y")).toDF("k", "av"),
      Seq((1, "B1"), (2, "B2")).toDF("k", "bv"))
    val dv = view.applyDelta(
      Some(Seq((1, "x", -1L), (3, "z", 1L)).toDF("k", "av", view.freqCol)),
      Some(Seq((3, "B3", 2L)).toDF("k", "bv", view.freqCol)))
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // ΔV applied to the previous snapshot must reproduce the new one
    val reconciled = tuples(view.at(0)).++(tuples(dv))
      .groupBy(t => (t._1, t._2, t._3)).view
      .mapValues(_.map(_._4).sum).toMap.filter(_._2 != 0)
      .map { case ((k, a, b), f) => (k, a, b, f) }.toSet
    assert(reconciled == tuples(view.at(1)).toSet)
    // and the delta itself contains the retraction and the new join rows
    assert(tuples(dv).toSet == Set((1, "x", "B1", -1L), (3, "z", "B3", 2L)))
  }

  test("join view deltas of a wider column type widen the stored state") {
    import spark.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("ivm_wide_spec_").resolve("s").toString
    val view = new graft.ivm.IncrementalJoinView(spark, Seq("k"), statePath)
    view.initialize(
      Seq((1, "x"), (2, "y")).toDF("k", "av"),
      Seq((1, "1.50"), (2, "2.25")).toDF("k", "bv")
        .withColumn("bv", col("bv").cast("decimal(12,2)")))
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getString(1),
        r.getDecimal(2).setScale(2).toPlainString, r.getLong(3))).toSet
    // a bigint key against the int state: a/ cannot narrow it, so it widens
    val dv1 = view.applyDelta(
      Some(Seq((1L, "z", 1L), (3L, "w", 1L)).toDF("k", "av", view.freqCol)), None)
    assert(tuples(dv1) == Set((1L, "z", "1.50", 1L)))
    assert(tuples(view.current()) ==
      Set((1L, "x", "1.50", 1L), (2L, "y", "2.25", 1L), (1L, "z", "1.50", 1L)))
    // a price doubled as ivm_join doubles o_totalprice: decimal(14,2)
    // against the stored decimal(12,2)
    val dv2 = view.applyDelta(None, Some(
      Seq((3, "4.00", 1L), (1, "0.75", -1L)).toDF("k", "bv", view.freqCol)
        .withColumn("bv", col("bv").cast("decimal(12,2)") * 2)))
    assert(tuples(dv2) ==
      Set((3L, "w", "8.00", 1L), (1L, "x", "1.50", -1L), (1L, "z", "1.50", -1L)))
    // an int key against the widened bigint state is cast on append
    val dv3 = view.applyDelta(Some(Seq((2, "y", -1L)).toDF("k", "av", view.freqCol)), None)
    assert(tuples(dv3) == Set((2L, "y", "2.25", -1L)))
    assert(tuples(view.current()) == Set((3L, "w", "8.00", 1L)))
    assert(view.current().schema("bv").dataType ==
      org.apache.spark.sql.types.DecimalType(14, 2))
    // every version before the widening still reads back
    assert(tuples(view.at(0)) == Set((1L, "x", "1.50", 1L), (2L, "y", "2.25", 1L)))
  }

  test("randomized delta histories: maintained join view equals from-scratch recompute") {
    import spark.implicits._
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // seeded RNG → deterministic test; four independent histories. The
    // last runs more than 2 × autoCompactDeltas batches, so every store
    // compacts twice mid-sequence; it is vacuumed partway through and at
    // the end, where each store must be cut back to its latest snapshot
    // and pending deltas.
    val longRun = 2 * MultisetStore.autoCompactDeltas + 1
    for ((seed, batches) <- Seq(7 -> 3, 23 -> 3, 99 -> 3, 2026 -> longRun)) {
      val rnd = new scala.util.Random(seed)
      def randRel(vals: Seq[String]): Seq[(Int, String, Long)] =
        Seq.fill(rnd.nextInt(12) + 4)(
          (rnd.nextInt(6), vals(rnd.nextInt(vals.size)),
            (rnd.nextInt(5) - 2).toLong)) // freq in [-2, 2], incl. 0
      val a0 = Seq.fill(rnd.nextInt(8) + 3)((rnd.nextInt(6), s"a${rnd.nextInt(4)}"))
      val b0 = Seq.fill(rnd.nextInt(8) + 3)((rnd.nextInt(6), s"b${rnd.nextInt(4)}"))

      val statePath = java.nio.file.Files
        .createTempDirectory(s"ivm_prop_$seed").resolve("s").toString
      val view = new graft.ivm.IncrementalJoinView(spark, Seq("k"), statePath)
      view.initialize(a0.toDF("k", "av"), b0.toDF("k", "bv"))

      // accumulate the ground-truth multisets as plain maps
      var aTruth = a0.groupBy(identity).view.mapValues(_.size.toLong).toMap
      var bTruth = b0.groupBy(identity).view.mapValues(_.size.toLong).toMap
      def recompute() = (for {
        ((ka, av), fa) <- aTruth.toSeq if fa != 0
        ((kb, bv), fb) <- bTruth.toSeq if ka == kb && fb != 0
      } yield ((ka, av, bv), fa * fb))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 != 0)
        .map { case ((k, av, bv), f) => (k, av, bv, f) }.toSet
      for (i <- 1 to batches) {
        val da = randRel((0 to 3).map(i => s"a$i"))
        val db = randRel((0 to 3).map(i => s"b$i"))
        val prev = view.currentVersion
        val dv = view.applyDelta(
          Some(da.toDF("k", "av", view.freqCol)),
          Some(db.toDF("k", "bv", view.freqCol)))
        da.foreach { case (k, v, f) =>
          aTruth = aTruth.updated((k, v), aTruth.getOrElse((k, v), 0L) + f) }
        db.foreach { case (k, v, f) =>
          bTruth = bTruth.updated((k, v), bTruth.getOrElse((k, v), 0L) + f) }
        // V(prev) ⊎ ΔV = V(now), and V(now) is the recompute
        val reconciled = (tuples(view.at(prev)) ++ tuples(dv))
          .groupBy(t => (t._1, t._2, t._3)).view.mapValues(_.map(_._4).sum)
          .filter(_._2 != 0).map { case ((k, av, bv), f) => (k, av, bv, f) }.toSet
        val now = tuples(view.at(view.currentVersion)).toSet
        assert(reconciled == now, s"seed $seed batch $i: V($prev) ⊎ ΔV != V(${view.currentVersion})")
        assert(now == recompute(), s"seed $seed batch $i diverged from the recompute")
        if (i == 10) view.vacuum()
      }
      if (batches == longRun) {
        // each compaction is a version of its own: more versions than batches
        assert(view.currentVersion > batches, s"seed $seed: no compaction landed")
        view.vacuum()
        assert(new java.io.File(statePath).list().sorted.toSeq == Seq("a", "b", "view"),
          "a state directory besides the three stores")
        for (store <- Seq("a", "b", "view")) {
          val kept = MultisetStore.versions(s"$statePath/$store")
          assert(kept.nonEmpty && kept.size <= MultisetStore.autoCompactDeltas,
            s"$store/ kept versions $kept after vacuum")
        }
      }
      val expected = recompute()
      val got = tuples(view.current()).toSet
      assert(got == expected, s"seed $seed diverged")
    }
  }

  test("streaming maintenance of the join view equals batch applyDelta") {
    import spark.implicits._
    def build(suffix: String) = {
      val p = java.nio.file.Files
        .createTempDirectory(s"ivm_js_$suffix").resolve("s").toString
      val v = new graft.ivm.IncrementalJoinView(spark, Seq("k"), p)
      v.initialize(
        Seq((1, "x"), (2, "y")).toDF("k", "av"),
        Seq((1, "B1"), (2, "B2"), (3, "B3")).toDF("k", "bv"))
      v
    }
    val deltas = Seq((1, "x2", 1L), (2, "y", -1L), (3, "z", 2L))
      .toDF("k", "av", "__freq")

    val batchView = build("batch")
    batchView.applyDelta(Some(deltas), None)
    val expected = batchView.current().collect().map(_.toSeq).toSet

    val srcDir = java.nio.file.Files.createTempDirectory("ivm_js_src_").toString
    deltas.write.mode("overwrite").parquet(srcDir)
    val streamView = build("stream")
    val q = streamView.maintainFrom(
      spark.readStream.schema(deltas.schema).parquet(srcDir))
    try {
      q.processAllAvailable()
      val got = streamView.current().collect().map(_.toSeq).toSet
      assert(got == expected)
      assert(streamView.currentVersion >= 1)
    } finally q.stop()
  }

  test("ivm_bm25: retract -> refresh -> probe equals one-shot BM25 on the edited corpus") {
    // The retract→retrieve loop (VERDICT r12 #3), pinned in-engine: the
    // maintained posting state after deleting the doc_id % 13 slice must
    // rank EXACTLY like a from-scratch bigram BM25 over a corpus that
    // never contained those docs. (The census oracle proves the same
    // cross-engine; this pin localizes a failure to the view machinery.)
    val editedDir = java.nio.file.Files.createTempDirectory("graft_ivm_bm25_ref_").toString
    Engine.table(spark, sf, "documents").filter("doc_id % 13 <> 0")
      .write.mode("overwrite").parquet(s"$editedDir/documents.parquet")
    val oneShot = queries.TextAnalysis.bm25Bigram(spark, editedDir)
      .collect().map(_.toString).toSeq
    val phases = scala.collection.mutable.Map.empty[String, Double]
    val maintained = queries.Ivm.bm25RetractRun(spark, sf, (k, v) => phases(k) = v)
      .collect().map(_.toString).toSeq
    assert(oneShot.nonEmpty && maintained == oneShot,
      s"maintained-state ranking diverged (one-shot ${oneShot.size} rows, maintained ${maintained.size})")
    assert(phases.keySet == Set("init", "refresh"), "timer hook must see both phases")
    // doc 0 is in the deleted slice: only 7 of the 8 census queries survive
    assert(maintained.map(_.split(",")(0).drop(1)).distinct.size == 7)
  }

  test("ivm_ann: tombstone + delta-segment probe equals one-shot on the edited corpus") {
    // The retract→retrieve loop on the vector axis, pinned in-engine:
    // the composed (base ∖ tombstones) ∪ delta index must rank EXACTLY
    // like an index built directly from the edited corpus. (The census
    // oracle proves the same cross-engine; this localizes a failure to
    // the segment composition.)
    val phases = scala.collection.mutable.Map.empty[String, Double]
    // O(|delta|) law: the base inventory is captured the moment the
    // BUILD phase completes (ADVICE r13 — snapshotting after the builder
    // returned only proved the PROBE left the base alone; this proves
    // retract and append never rewrote it either).
    val root = Engine.scratchDir("graft_ivm_ann_spec_")
    var atBuild: Set[(String, Long, Long)] = null
    val st = queries.Ivm.annRetractBuild(spark, sf, (k, v) => {
      phases(k) = v
      if (k == "build") atBuild = inventory(s"$root/base")
    }, root)
    assert(phases.keySet == Set("build", "retract", "append"),
      "timer hook must see all three phases")
    assert(inventory(st.base) == atBuild,
      "retract/append rewrote base segment files — maintenance must be O(|delta|)")

    val maintained = queries.Ivm.annRetractProbe(spark, sf, st)
      .collect().map(_.toString).toSeq

    // one-shot reference: an index written directly from the edited slice
    val oneIdx = Engine.scratchDir("graft_ivm_ann_ref_") + "/index"
    queries.Similarity.writeIvfSq8Index(spark, sf, oneIdx,
      slice = "vec_id % 13 <> 0 OR vec_id % 26 = 0")
    val oneShot = queries.Similarity.probeIvfSq8Index(spark, sf, oneIdx)
      .collect().map(_.toString).toSeq

    assert(oneShot.nonEmpty && maintained == oneShot,
      s"composed-index ranking diverged (one-shot ${oneShot.size} rows, " +
        s"maintained ${maintained.size})")
    assert(inventory(st.base) == atBuild,
      "the probe rewrote base segment files — maintenance must be O(|delta|)")
    // vec 0 is retracted AND audit-cleared (0 % 26 == 0): all 8 queries rank
    assert(maintained.map(_.split(",")(0).drop(1)).distinct.size == 8)

    // compaction law (VERDICT r13 #2): folding (base ∖ tombstones ∖
    // delta-ids) ∪ delta into a new base changes NOTHING the probe can
    // see, and the new base is itself immutable under probing
    val cst = queries.Ivm.annCompact(spark, st)
    val atCompact = inventory(cst.base)
    val compacted = queries.Ivm.annRetractProbe(spark, sf, cst)
      .collect().map(_.toString).toSeq
    assert(compacted == maintained, "compacted probe diverged from composed probe")
    assert(inventory(cst.base) == atCompact,
      "probing rewrote compacted base files")
    // and the consumed edit history is gone: the compacted state's edit
    // relations are empty (dead weight GC'd, not carried)
    assert(spark.read.parquet(cst.tombstones).count() == 0)
    assert(spark.read.parquet(cst.delta).count() == 0)
  }

  test("ivm_dedup: tombstone-filtered groups over immutable bands equal one-shot on the edited index") {
    // Same LSM law on the dedup axis. The probe composes live groups
    // (base ∖ tombstones ∪ delta) over UNFILTERED bands — valid because
    // same-fp docs carry identical text (a deleted rep's bands stay a
    // correct banded signature for its surviving group members).
    val phases = scala.collection.mutable.Map.empty[String, Double]
    val root = Engine.scratchDir("graft_ivm_dedup_spec_")
    var atBuild: Set[(String, Long, Long)] = null
    val st = queries.Ivm.dedupRetractBuild(spark, sf, (k, v) => {
      phases(k) = v
      if (k == "build") atBuild = inventory(s"$root/base")
    }, root)
    assert(phases.keySet == Set("build", "retract", "append"),
      "timer hook must see all three phases")
    assert(inventory(st.base) == atBuild,
      "retract/append rewrote base segment files — maintenance must be O(|delta|)")

    val maintained = queries.Ivm.dedupRetractProbe(spark, sf, st)
      .collect().map(_.toString).toSeq

    val oneIdx = Engine.scratchDir("graft_ivm_dedup_ref_") + "/index"
    queries.Dedup.writeBandIndex(spark, sf, oneIdx,
      pred = "doc_id % 2 <> 0 OR doc_id % 4 = 0")
    val oneShot = queries.Dedup.probeBandIndex(spark, sf, oneIdx)
      .collect().map(_.toString).toSeq

    assert(oneShot.nonEmpty && maintained == oneShot,
      s"composed-index probe diverged (one-shot ${oneShot.size} rows, " +
        s"maintained ${maintained.size})")
    assert(inventory(st.base) == atBuild,
      "the probe rewrote base segment files — maintenance must be O(|delta|)")

    // compaction law on the dedup axis, including the GC this index
    // needs: dead groups' orphan bands are DROPPED in the fold (band
    // liveness is per fp — a tombstoned rep's bands survive while any
    // group member lives), yet the probe sees no difference
    val cst = queries.Ivm.dedupCompact(spark, st)
    val compacted = queries.Ivm.dedupRetractProbe(spark, sf, cst)
      .collect().map(_.toString).toSeq
    assert(compacted == maintained, "compacted probe diverged from composed probe")
    assert(spark.read.parquet(cst.tombstones).count() == 0)
    assert(spark.read.parquet(s"${cst.delta}/groups").count() == 0)
    // the GC is real: every surviving band's fp has a live member, and
    // at least one dead group's bands were actually dropped by the fold
    val liveFps = spark.read.parquet(s"${cst.base}/groups")
      .select("fp").distinct().collect().map(_.getString(0)).toSet
    val allGroups = spark.read.parquet(s"${st.base}/groups")
      .unionByName(spark.read.parquet(s"${st.delta}/groups"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val keptBandReps = spark.read.parquet(s"${cst.base}/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(keptBandReps.forall(r => liveFps.contains(allGroups(r))),
      "compaction kept a band whose whole group is dead")
    val beforeBands = spark.read.parquet(s"${st.base}/bands")
      .unionByName(spark.read.parquet(s"${st.delta}/bands")).count()
    assert(spark.read.parquet(s"${cst.base}/bands").count() < beforeBands,
      "compaction GC'd nothing — the edit kills whole groups, bands must shrink")
  }

  test("ivm_bm25_lsm: tombstone + delta-segment posting probe equals one-shot BM25 on the edited corpus") {
    // The text axis's O(|delta|) shape (VERDICT r13 #1): the stored
    // token-sorted posting index is the immutable base; the edit is a
    // tombstone write plus the re-ingested slice's OWN tokenization.
    val phases = scala.collection.mutable.Map.empty[String, Double]
    val root = Engine.scratchDir("graft_ivm_bm25lsm_spec_")
    var atInit: Set[(String, Long, Long)] = null
    val st = queries.Ivm.bm25LsmBuild(spark, sf, (k, v) => {
      phases(k) = v
      if (k == "init") atInit = inventory(s"$root/base")
    }, root)
    assert(phases.keySet == Set("init", "retract", "append"),
      "timer hook must see all three phases")
    assert(inventory(st.base) == atInit,
      "retract/append rewrote base posting files — maintenance must be O(|delta|)")

    val maintained = queries.Ivm.bm25LsmProbe(spark, sf, st)
      .collect().map(_.toString).toSeq

    // one-shot reference: bigram BM25 over a corpus that never contained
    // the deleted docs (and kept the re-ingested ones)
    val editedDir = Engine.scratchDir("graft_ivm_bm25lsm_ref_")
    Engine.table(spark, sf, "documents")
      .filter("doc_id % 13 <> 0 OR doc_id % 26 = 0")
      .write.mode("overwrite").parquet(s"$editedDir/documents.parquet")
    val oneShot = queries.TextAnalysis.bm25Bigram(spark, editedDir)
      .collect().map(_.toString).toSeq

    assert(oneShot.nonEmpty && maintained == oneShot,
      s"composed posting probe diverged (one-shot ${oneShot.size} rows, " +
        s"maintained ${maintained.size})")
    assert(inventory(st.base) == atInit,
      "the probe rewrote base posting files")
    // doc 0 is retracted AND re-added via % 26: all 8 census queries rank
    assert(maintained.map(_.split(",")(0).drop(1)).distinct.size == 8)

    // compaction law on the text axis
    val cst = queries.Ivm.bm25LsmCompact(spark, st)
    val compacted = queries.Ivm.bm25LsmProbe(spark, sf, cst)
      .collect().map(_.toString).toSeq
    assert(compacted == maintained, "compacted probe diverged from composed probe")
    assert(spark.read.parquet(cst.tombstones).count() == 0)
    assert(spark.read.parquet(s"${cst.delta}/postings").count() == 0)
  }

  test("ivm_ann_stream: a stream of signed edits equals the batch edit and the one-shot rebuild") {
    // The serving loop (VERDICT r13 #4): micro-batches of (vec_id, ±1)
    // edits fold into tombstone appends / delta segments via
    // foreachBatch, and the index serves correctly BETWEEN batches.
    val root = Engine.scratchDir("graft_ivm_annstr_spec_")
    val st = sources.SegmentedIndex.State(
      s"$root/base", s"$root/tombstones", s"$root/delta")
    queries.Similarity.writeIvfSq8Index(spark, sf, st.base)
    val baseInv = inventory(st.base)
    val editDir = Engine.scratchDir("graft_ivm_annstr_spec_e_")
    spark.sql("""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(-1 AS BIGINT) AS freq
                |FROM embeddings WHERE vec_id % 13 = 0""".stripMargin)
      .write.parquet(s"$editDir/b1")
    val schema = spark.read.parquet(s"$editDir/b1").schema
    val edits = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(editDir)
    val q = queries.Ivm.annMaintain(edits, sf, st)
    try {
      q.processAllAvailable()
      // mid-stream: only the retract batch has landed (no delta segment
      // exists yet — the segment-tolerant probe must still serve) and
      // the live index equals a one-shot over the deletes-only corpus
      val midProbe = queries.Ivm.annRetractProbe(spark, sf, st)
        .collect().map(_.toString).toSeq
      val midIdx = Engine.scratchDir("graft_ivm_annstr_mid_") + "/index"
      queries.Similarity.writeIvfSq8Index(spark, sf, midIdx,
        slice = "vec_id % 13 <> 0")
      val midOneShot = queries.Similarity.probeIvfSq8Index(spark, sf, midIdx)
        .collect().map(_.toString).toSeq
      assert(midProbe.nonEmpty && midProbe == midOneShot,
        "mid-stream probe diverged from the deletes-only one-shot")

      // second micro-batch: the audit-cleared re-ingests
      spark.sql("""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(1 AS BIGINT) AS freq
                  |FROM embeddings WHERE vec_id % 26 = 0""".stripMargin)
        .write.parquet(s"$editDir/b2")
      q.processAllAvailable()
    } finally q.stop()

    val streamed = queries.Ivm.annRetractProbe(spark, sf, st)
      .collect().map(_.toString).toSeq
    val batchSt = queries.Ivm.annRetractBuild(spark, sf)
    val batch = queries.Ivm.annRetractProbe(spark, sf, batchSt)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "stream-of-edits diverged from the batch edit")
    assert(inventory(st.base) == baseInv,
      "the edit stream rewrote base segment files")

    // replay idempotence: foreachBatch is at-least-once after failure,
    // so the SAME re-ingest batch landing twice (two delta segments with
    // identical content-addressed rows) must not change the probe —
    // the live composition dropDuplicates on the id
    val q2 = queries.Ivm.annMaintain(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(editDir), sf, st)
    try {
      spark.sql("""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(1 AS BIGINT) AS freq
                  |FROM embeddings WHERE vec_id % 26 = 0""".stripMargin)
        .write.parquet(s"$editDir/b3")
      q2.processAllAvailable()
    } finally q2.stop()
    val replayed = queries.Ivm.annRetractProbe(spark, sf, st)
      .collect().map(_.toString).toSeq
    assert(replayed == streamed, "a replayed re-ingest batch changed the probe")
  }

  test("ivm_bm25_stream / ivm_dedup_stream: streamed edits equal the batch edit on the text and dedup axes") {
    // text axis
    val broot = Engine.scratchDir("ivm_bm25str_spec_")
    val bst = sources.SegmentedIndex.State(
      s"$broot/base", s"$broot/tombstones", s"$broot/delta")
    queries.TextAnalysis.writeBm25Index(spark, sf, bst.base)
    val bschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("freq",
        org.apache.spark.sql.types.LongType)))
    val beDir = Engine.scratchDir("ivm_bm25str_spec_e_")
    spark.sql("""SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS freq
                |FROM documents WHERE doc_id % 13 = 0""".stripMargin)
      .write.parquet(s"$beDir/b1")
    spark.sql("""SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(1 AS BIGINT) AS freq
                |FROM documents WHERE doc_id % 26 = 0""".stripMargin)
      .write.parquet(s"$beDir/b2")
    val bq = queries.Ivm.bm25LsmMaintain(
      spark.readStream.schema(bschema)
        .option("recursiveFileLookup", "true").parquet(beDir), sf, bst)
    try bq.processAllAvailable() finally bq.stop()
    val bStreamed = queries.Ivm.bm25LsmProbe(spark, sf, bst)
      .collect().map(_.toString).toSeq
    val bBatch = queries.Ivm.bm25LsmProbe(spark, sf,
      queries.Ivm.bm25LsmBuild(spark, sf))
      .collect().map(_.toString).toSeq
    assert(bStreamed.nonEmpty && bStreamed == bBatch,
      "streamed text-index edits diverged from the batch edit")

    // dedup axis
    val droot = Engine.scratchDir("ivm_dedupstr_spec_")
    val dst = sources.SegmentedIndex.State(
      s"$droot/base", s"$droot/tombstones", s"$droot/delta")
    queries.Dedup.writeBandIndex(spark, sf, dst.base)
    val deDir = Engine.scratchDir("ivm_dedupstr_spec_e_")
    spark.sql("""SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS freq
                |FROM dedup_sh WHERE doc_id % 10 <> 0 AND doc_id % 2 = 0""".stripMargin)
      .write.parquet(s"$deDir/b1")
    spark.sql("""SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(1 AS BIGINT) AS freq
                |FROM dedup_sh WHERE doc_id % 4 = 0""".stripMargin)
      .write.parquet(s"$deDir/b2")
    val dq = queries.Ivm.dedupMaintain(
      spark.readStream.schema(bschema)
        .option("recursiveFileLookup", "true").parquet(deDir), sf, dst)
    try dq.processAllAvailable() finally dq.stop()
    val dStreamed = queries.Ivm.dedupRetractProbe(spark, sf, dst)
      .collect().map(_.toString).toSeq
    val dBatch = queries.Ivm.dedupRetractProbe(spark, sf,
      queries.Ivm.dedupRetractBuild(spark, sf))
      .collect().map(_.toString).toSeq
    assert(dStreamed.nonEmpty && dStreamed == dBatch,
      "streamed band-index edits diverged from the batch edit")
  }

  test("segment reader: data-less or missing edit segments serve as empty, unreadable ones raise") {
    // The contract SegmentedIndex.segment keeps: only a segment that has
    // not landed (missing, or a directory without data files) reads as
    // empty; a segment whose files exist but cannot be read fails the
    // probe instead of silently serving the base.
    val root = Engine.scratchDir("graft_ivm_segread_spec_")
    val st = sources.SegmentedIndex.State.under(root)
    queries.Similarity.writeIvfSq8Index(spark, sf, st.base)
    val baseOnly = queries.Similarity.probeIvfSq8Index(spark, sf, st.base)
      .collect().map(_.toString).toSeq
    def probe(): Seq[String] =
      queries.Ivm.annRetractProbe(spark, sf, st).collect().map(_.toString).toSeq
    val tomb = java.nio.file.Paths.get(st.tombstones)

    // no tombstone or delta directory yet
    assert(baseOnly.nonEmpty && probe() == baseOnly,
      "missing edit segments changed the probe")

    // a tombstone directory holding only _SUCCESS (the delta still missing)
    java.nio.file.Files.createDirectories(tomb)
    java.nio.file.Files.createFile(tomb.resolve("_SUCCESS"))
    assert(probe() == baseOnly, "a data-less tombstone segment changed the probe")

    // a corrupt part file in the tombstone segment
    java.nio.file.Files.write(tomb.resolve("part-00000.parquet"),
      "not a parquet file".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[org.apache.spark.SparkException](probe())
  }
}
