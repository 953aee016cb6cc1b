package graft

import graft.queries.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Hot-bucket guard pins: a corpus that is mostly byte-identical copies —
  * the exact input dedup exists for — must NOT make the banded self-joins
  * quadratic in copies. The guard collapses md5(text) groups to one
  * representative before banding, so the candidate relation scales with
  * DISTINCT texts; the output pair set is still every duplicate pair.
  */
class HotBucketSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Write a documents table (driver schema) into a fresh temp dir. */
  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_hotbucket_").toString
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'test' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val textX = "the quick brown fox jumps over the lazy dog again and again"
  private val textY = "the quick brown fox jumps over the lazy dog again and again today"
  private val textZ = "completely different content about spark catalyst optimizer internals"

  test("banded candidates scale with distinct texts, not copies squared") {
    // 300 identical copies of X + 2 unrelated texts: without the guard the
    // (band_idx, band_sig) bucket for X holds 300 rows × 16 bands and the
    // self-join emits ~16·C(300,2) ≈ 718k rows before DISTINCT. With it,
    // banding sees 3 representatives.
    val dir = corpus((0L until 300L).map(i => (i, textX)) :+ (300L -> textY) :+ (301L -> textZ))
    val cands = Dedup.minhashRepCandidates(spark, dir).collect()
    // X and Y are near-dup (they share almost all shingles) so their reps
    // MAY collide in a band; Z shares nothing. The candidate relation is
    // at most all rep pairs — never copies².
    assert(cands.length <= 3, s"rep candidates exploded: ${cands.length}")

    // ...while the OUTPUT still contains every duplicate pair: C(300,2)
    // within the X group at Jaccard exactly 1.0, plus the X~Y cross-group
    // pairs (301 × 1) if banding surfaced them.
    val pairs = Dedup.minhashPairs(spark, dir).collect()
    val exact = pairs.filter(_.getDouble(2) == 1.0)
    assert(exact.length == 300 * 299 / 2, s"within-group pairs: ${exact.length}")
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)), "pair order broken")
  }

  test("mixed duplicate groups: cross-group pairs expand through representatives") {
    // 40 copies of X and 40 copies of Y (near-dups of each other): one rep
    // pair must expand to all 40×40 cross pairs with the REP pair's exact
    // Jaccard, plus 2·C(40,2) within-group pairs at 1.0.
    val dir = corpus((0L until 40L).map(i => (i, textX)) ++ (40L until 80L).map(i => (i, textY)))
    val pairs = Dedup.minhashPairs(spark, dir).collect()
    val within = pairs.filter(_.getDouble(2) == 1.0)
    val cross = pairs.filter(_.getDouble(2) < 1.0)
    assert(within.length == 2 * (40 * 39 / 2), s"within: ${within.length}")
    assert(cross.length == 40 * 40, s"cross: ${cross.length}")
    // every cross pair carries the identical verified score
    assert(cross.map(_.getDouble(2)).distinct.length == 1)
    assert(cross.forall(r => r.getDouble(2) >= 0.5))
  }

  test("containment: >maxDf identical copies are NOT lost to the df cap") {
    // 50 copies push every shingle's raw doc-frequency past maxDf=10 —
    // the ungrouped inverted index would emit ZERO candidates and lose
    // all 1225 pairs its exact oracle demands. Groups count once in the
    // df, and within-group pairs surface directly at containment 1.0.
    val dir = corpus((0L until 50L).map(i => (i, textX)) :+ (50L -> textZ))
    val pairs = Dedup.containmentPairs(spark, dir).collect()
    assert(pairs.length == 50 * 49 / 2, s"pairs: ${pairs.length}")
    assert(pairs.forall(r => r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0))
  }

  test("containment: asymmetric ratios stay oriented when expansion flips id order") {
    // textSub's 4 shingles are all inside textX's 10: c(sub→X) = 1.0,
    // c(X→sub) = 0.4. Copies of sub sit on BOTH sides of X's id, so the
    // rep-pair expansion must swap the direction ratios exactly when
    // least/greatest reorders the pair.
    val sub = "a b c d e f"
    val x = "a b c d e f g h i j k l"
    val dir = corpus((0L until 10L).map(i => (i, sub)) ++
      Seq(50L -> x) ++ (100L until 110L).map(i => (i, sub)))
    val pairs = Dedup.containmentPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val crossLow = pairs.filter { case (a, b, _, _) => b == 50L } // sub id < X id
    val crossHigh = pairs.filter { case (a, b, _, _) => a == 50L } // X id < sub id
    assert(crossLow.length == 10 && crossHigh.length == 10,
      s"cross pairs: ${crossLow.length}/${crossHigh.length}")
    // id_a is the contained doc → c_ab = 1.0, c_ba = 0.4
    assert(crossLow.forall { case (_, _, cab, cba) => cab == 1.0 && cba == 0.4 })
    // id_a is the container → c_ab = 0.4, c_ba = 1.0
    assert(crossHigh.forall { case (_, _, cab, cba) => cab == 0.4 && cba == 1.0 })
    // within-group sub pairs: both directions 1.0
    val within = pairs.filter { case (a, b, _, _) => a != 50L && b != 50L }
    assert(within.length == 20 * 19 / 2)
    assert(within.forall { case (_, _, cab, cba) => cab == 1.0 && cba == 1.0 })
  }

  test("ngram: copy-level df semantics survive the collapse exactly") {
    // 300 copies: every shingle's WEIGHTED df = 300 > maxDf=10, so the
    // contract (and oracle) admits NO pairs — the collapse must not
    // "rescue" them the way containment's exact oracle demands.
    val dirHot = corpus((0L until 300L).map(i => (i, textX)) :+ (300L -> textZ))
    assert(Dedup.ngramJaccardPairs(spark, dirHot).count() == 0L)

    // 5 copies: weighted df = 5 <= 10 keeps the group's shingles rare,
    // so all C(5,2) within-group pairs emit at Jaccard exactly 1.0,
    // plus the near-dup cross pairs to textY's group.
    val dirWarm = corpus((0L until 5L).map(i => (i, textX)) ++
      (10L until 13L).map(i => (i, textY)))
    val pairs = Dedup.ngramJaccardPairs(spark, dirWarm).collect()
    val within = pairs.filter(_.getDouble(2) == 1.0)
    val cross = pairs.filter(_.getDouble(2) < 1.0)
    assert(within.length == 5 * 4 / 2 + 3 * 2 / 2, s"within: ${within.length}")
    assert(cross.length == 5 * 3, s"cross: ${cross.length}")
  }

  test("incremental probe: duplicated batch vs duplicated index stays linear in output") {
    // 40 copies of X: ids 0,10,20,30 land on the delta side (doc_id%10=0),
    // the other 36 on the index side. Every delta copy pairs with every
    // index copy at Jaccard exactly 1.0 — 4×36 pairs, produced through
    // the per-side representatives and the direct same-fp arm, never by
    // banding all 40 copies into one bucket.
    val dir = corpus((0L until 40L).map(i => (i, textX)) :+ (41L -> textZ))
    val pairs = Dedup.incrementalPairs(spark, dir).collect()
    assert(pairs.length == 4 * 36, s"pairs: ${pairs.length}")
    assert(pairs.forall(_.getDouble(2) == 1.0))
    assert(pairs.forall(r => r.getLong(0) % 10 == 0 && r.getLong(1) % 10 != 0))
  }

  test("incremental probe: deltaMod reslices the boundary, output complete at the new split") {
    // Same 40-copy corpus under deltaMod=4: ids 0,4,...,36 form a
    // 10-doc delta, the other 30 the index — 10×30 cross-boundary pairs
    // at Jaccard exactly 1.0. Pins that the deltaMod knob (SCALE.md's
    // fixed-size-delta measurements) moves BOTH the is_delta flag and
    // the per-side representative window together; a drifted window
    // partition would under-produce through the rep-expansion arm.
    val dir = corpus((0L until 40L).map(i => (i, textX)) :+ (41L -> textZ))
    val pairs = Dedup.incrementalPairs(spark, dir, deltaMod = 4).collect()
    assert(pairs.length == 10 * 30, s"pairs: ${pairs.length}")
    assert(pairs.forall(_.getDouble(2) == 1.0))
    assert(pairs.forall(r => r.getLong(0) % 4 == 0 && r.getLong(1) % 4 != 0))
  }

  test("simhash path: identical copies emit Hamming-0 pairs without banding copies") {
    val dir = corpus((0L until 120L).map(i => (i, textX)) :+ (120L -> textZ))
    val pairs = Dedup.simhashPairs(spark, dir).collect()
    assert(pairs.count(_.getInt(2) == 0) >= 120 * 119 / 2,
      s"missing within-group Hamming-0 pairs: ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }
}
