package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the IVF-PQ contracts (ann_ivf_pq / ann_ivf_pq_idx):
  *   1. the stored packed-code index is result-invisible (stored ≡
  *      in-flight, code determinism);
  *   2. with the re-rank saturated, the ADC stage is a pure admission
  *      filter — the pipeline reproduces the exact probed IVF search
  *      row for row (the analog of the JL saturated-shortlist law);
  *   3. the bandwidth story is in the plan: the ADC scan reads ONLY the
  *      8-byte code word (no floats), the re-rank scan only the floats,
  *      and both carry dynamic partition pruning on cell;
  *   4. recall@10 vs the exact brute force holds its measured floor at
  *      the default widths.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("stored packed-code probe equals the in-flight PQ result") {
    val inflight = queries.Similarity.ivfPqTopK(spark, dir)
      .collect().map(_.toString).toSeq
    val idx = Engine.scratchDir("graft_pq_spec_") + "/index"
    queries.Similarity.writeIvfPqIndex(spark, dir, idx)
    val stored = queries.Similarity.probeIvfPqIndex(spark, dir, idx)
      .collect().map(_.toString).toSeq
    assert(inflight.nonEmpty && stored == inflight,
      "stored-code PQ probe diverged from the in-flight pipeline")
  }

  test("saturated re-rank makes PQ an admission filter: equals exact probed IVF") {
    // With rerank >= every probed candidate the ADC ranking admits
    // everything and the exact float re-rank IS the ranking — so the
    // PQ pipeline must reproduce ivfTopK (same cells, same nProbe,
    // same self-exclusion) row for row. Any divergence means the ADC
    // stage is re-scoring instead of filtering, or the candidate pool
    // differs (e.g. a dropped vector).
    val pq = queries.Similarity.ivfPqTopK(spark, dir, rerank = 100000)
      .collect().map(_.toString).toSeq
    val exact = queries.Similarity.ivfTopK(spark, dir)
      .collect().map(_.toString).toSeq
    assert(pq.nonEmpty && pq == exact,
      "saturated-rerank PQ diverged from the exact probed IVF search")
  }

  test("PQ index probe prunes partitions; ADC scan reads the 8-byte code only") {
    val idx = Engine.scratchDir("graft_pq_plan_") + "/index"
    queries.Similarity.writeIvfPqIndex(spark, dir, idx)
    val df = queries.Similarity.probeIvfPqIndex(spark, dir, idx)
    val full = df.queryExecution.executedPlan.toString
    val physical = full.split("== Initial Plan ==")(0)
    assert(full.contains("dynamicpruningexpression"),
      "PQ index scan lost its dynamic partition pruning subquery:\n" + full)
    val indexScans = physical.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("graft_pq_plan_"))
      .toSeq
    assert(indexScans.size == 2, s"expected ADC + rerank index scans:\n$physical")
    assert(indexScans.exists(l => l.contains("cw") && !l.contains("cv#")),
      "no code-word-only (cv-free) ADC read schema:\n" + indexScans.mkString("\n"))
    assert(indexScans.exists(l => l.contains("cv#") && !l.contains("cw")),
      "no re-rank index scan reading only the float column:\n" + indexScans.mkString("\n"))
  }

  test("pq_encode / pq_adc kernels equal the interpreted SQL folds (r14)") {
    // OPTIMIZATION r14 replaced the N×128 cross-join encode and the
    // per-candidate aggregate() ADC fold with codegen kernels; this pins
    // kernel ≡ the original higher-order-function spelling on real
    // corpus vectors (same composite-key argmin, same packed word, same
    // LUT fold), so the census keys' oracle equality can never hinge on
    // the kernel silently drifting.
    import spark.implicits._
    Engine.table(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    val both = spark.sql(
      """WITH f AS (
        |  SELECT vec_id,
        |    transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0D + 0.5D) AS BIGINT)) AS vf
        |  FROM embeddings),
        |cb AS (
        |  SELECT sub.s, f.vec_id AS j, slice(f.vf, sub.s * 8 + 1, 8) AS cf
        |  FROM f CROSS JOIN (SELECT explode(sequence(0, 7)) AS s) sub
        |  WHERE f.vec_id < 16),
        |cbm AS (
        |  SELECT transform(sort_array(collect_list(named_struct(
        |    'idx', s * 16 + CAST(j AS INT), 'cf', cf))), x -> x.cf) AS m
        |  FROM cb),
        |sqlcodes AS (
        |  SELECT vec_id, sum(shiftleft(CAST(code AS BIGINT), 4 * s)) AS cw FROM (
        |    SELECT vec_id, s, CAST(mk % 16 AS INT) AS code FROM (
        |      SELECT t.vec_id, t.s, min(t.d2 * 16 + t.j) AS mk FROM (
        |        SELECT f.vec_id, cb.s, cb.j,
        |          aggregate(zip_with(slice(f.vf, cb.s * 8 + 1, 8), cb.cf,
        |            (x, y) -> (x - y) * (x - y)), 0L, (acc, p) -> acc + p) AS d2
        |        FROM f CROSS JOIN cb) t
        |      GROUP BY t.vec_id, t.s)) e
        |  GROUP BY vec_id),
        |kcodes AS (SELECT vec_id, pq_encode(vf, (SELECT m FROM cbm)) AS cw FROM f)
        |SELECT s.vec_id, s.cw AS sql_cw, k.cw AS k_cw
        |FROM sqlcodes s JOIN kcodes k ON s.vec_id = k.vec_id""".stripMargin)
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"pq_encode diverged from the SQL argmin at vec_id=${r.getLong(0)}"))
    // ADC fold parity on a synthetic LUT covering every subspace index
    val adc = spark.sql(
      s"""SELECT pq_adc(lut, cw) AS k,
         |  aggregate(sequence(0, 7), 0L, (acc, s) ->
         |    acc + element_at(lut, CAST(s * 16 + (shiftright(cw, 4 * s) % 16) + 1 AS INT))) AS s
         |FROM (SELECT transform(sequence(1, 128), i -> CAST(i * 37 - 1000 AS BIGINT)) AS lut,
         |             CAST(81985529216486895 AS BIGINT) AS cw)""".stripMargin).head()
    assert(adc.getLong(0) == adc.getLong(1), "pq_adc diverged from the aggregate() fold")
  }

  test("pq_encode's generated Java compiles: codegen-only equals interpreted") {
    // CODEGEN_ONLY and no whole-stage fallback make a compile failure of
    // the kernel's generated code raise, where the defaults would log it
    // and quietly evaluate the interpreted path instead
    val q = """SELECT id, pq_encode(
              |  transform(sequence(0, 15), i -> CAST((id * 7 + i * 13) % 50 AS BIGINT)),
              |  transform(sequence(0, 31), j -> transform(sequence(0, 7),
              |    d -> CAST((j * 11 + d * 5) % 50 AS BIGINT)))) AS cw
              |FROM range(0, 64)""".stripMargin
    def run(conf: (String, String)*): Seq[String] = {
      val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try spark.sql(q).collect().map(_.toString).sorted.toSeq
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val compiled = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(compiled.size == 64 && compiled == interpreted)
  }

  test("recall@10 vs exact brute force holds the measured floor") {
    // The quality bar at the default widths (nProbe=4/16 cells,
    // rerank=50, m=8 x ks=16 sampled codebooks) on the gate corpus.
    // The floor is the measured value with no slack: any codebook,
    // encode, LUT, or probe regression lands here first.
    val exact = queries.Similarity.bruteForceTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = queries.Similarity.ivfPqTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.nonEmpty)
    val recall = pq.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.40,
      f"PQ recall@10 dropped to $recall%.4f (floor 0.40)")
  }
}
