package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's per-attempt measurement hygiene (OPTIMIZATION r15 /
  * VERDICT r14 #1): every attempt of a best-of-N cell starts from a COLD
  * swap-cache state, so a query that swap-caches its model inside the
  * timed region (lm_c1-3, nb_tragg, *_dl, simhash_grp/sh, tok_tf) pays
  * the model build in every attempt — min() damps scheduler noise, it
  * does not ride a warm cache from attempt 1. Before this rule, run 2 of
  * exactly the cells round 14 optimized skipped the model build and the
  * committed minima priced warm-model serving instead of the one-shot
  * invocation every other cell reports.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bestOf clears swap caches between a query's attempts") {
    // each run records whether the previous attempt's cache survived,
    // then registers its own swap-cached relation (the model pattern)
    val key = "bench_spec_probe_model"
    val seenWarm = scala.collection.mutable.Buffer[Boolean]()
    val q = QueryDef.rowsOnly("bench_spec_probe") { (s, _) =>
      seenWarm += Engine.swapCacheKeys(s).contains(key)
      Engine.cacheSwap(key, s.range(5).toDF("v"))
      s.range(1).toDF("v")
    }
    Engine.clearSwapCaches(spark) // the between-queries clear `cell` does
    val t = Bench.bestOf(3, spark, "unused")(q)
    assert(t.isDefined)
    assert(seenWarm.toSeq == Seq(false, false, false),
      s"attempts must each start cold, saw $seenWarm")
    Engine.clearSwapCaches(spark)
  }

  test("bestOf still returns the min over successful attempts") {
    var i = 0
    val q = QueryDef.rowsOnly("bench_spec_minok") { (s, _) =>
      i += 1
      if (i == 2) sys.error("transient failure on attempt 2")
      s.range(3).toDF("v")
    }
    val t = Bench.bestOf(3, spark, "unused")(q)
    assert(t.isDefined && t.get >= 0.0)
    assert(i == 3) // all attempts ran; the failed one contributed nothing
  }

  test("servingCell: a failed write records one error; a good cell reports its faster probe") {
    val failed = Bench.servingCell(spark, "unused", "bench_spec_serving_fail")(
      _ => sys.error("index write failed"))(_ => () => spark.range(1).toDF("v"))
    assert(failed == ((None, None)))
    assert(Bench.errors.keys.filter(_.startsWith("bench_spec_serving_")).toSeq ==
      Seq("bench_spec_serving_fail@unused"))

    var probes = 0
    val (w, p) = Bench.servingCell(spark, "unused", "bench_spec_serving_ok")(_ => ())(_ => () => {
      probes += 1
      Thread.sleep(if (probes == 1) 600 else 100)
      spark.range(1).toDF("v")
    })
    assert(probes == 2)
    assert(w.isDefined)
    assert(p.exists(t => t >= 0.1 && t < 0.6), s"probe $p is not the faster of 0.6 s and 0.1 s")
    assert(!Bench.errors.contains("bench_spec_serving_ok@unused"))
  }
}
