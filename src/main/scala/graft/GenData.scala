package graft

import graft.sources.StoredParquet
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic sf1 bench-data generator: scales the driver-provided
  * sf0.1 tables by an integer factor (default 10×) with key offsets that
  * preserve every join relationship, so the headline queries measure the
  * same plan shapes on 10× the rows. Round 5 proved the sf0.1 bench sits
  * on the scheduling floor (−18% "improvement" with byte-identical code);
  * sf1 restores a signal.
  *
  *   runMain graft.GenData [inDir] [outDir] [factor] [tables-csv]
  *
  * The optional table filter builds partial tiers: the sf10 tier carries
  * TPC-H (`region,nation,customer,supplier,part,orders,lineitem`) plus
  * `documents`, `events` and `embeddings` (generated at factor 100 from
  * sf0.1) — the headline queries sit near the scheduling floor at sf1,
  * and so do the document pipelines (minhash at sf1 ran faster on 8
  * cores than 32), so sf10 is where window/ANN shapes get a
  * compute-bound measurement (VERDICT r6 §6).
  *
  * Replication is NOT naive copying where that would distort the
  * workload:
  *   - TPC-H tables replicate with per-replica key offsets (orderkey /
  *     custkey / partkey / suppkey), keeping FK fan-outs and predicate
  *     selectivities identical; region/nation stay fixed, as at any TPC-H
  *     scale.
  *   - documents: replica r>0 rewrites each token with an `_r` suffix
  *     (one string replace), so intra-replica duplicate structure —
  *     exact groups, Jaccard values — is preserved token-for-token while
  *     cross-replica shingle overlap is ~zero. Near-dup pair counts scale
  *     ~linearly; naive copies would instead make every doc a 10-way
  *     exact dup and blow the output quadratically.
  *   - embeddings: replica r rotates the vector by r positions —
  *     norm-preserving, and rotations of near-orthogonal vectors stay
  *     near-orthogonal, so ANN/cosine workloads scale without a
  *     cosine-1.0 pair explosion.
  *   - events: user/event ids offset per replica, timestamps untouched —
  *     10× the users with the same per-user session/gap structure.
  *
  * All derivations are hash/arithmetic-only: the output is byte-stable
  * across runs.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val inDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/benchdata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tables = args.lift(3).map(_.split(',').toSet)
    val spark = Engine.build(master = "local[32]", shufflePartitions = 32)
    generate(spark, inDir, outDir, factor, tables)
    spark.stop()
  }

  def generate(spark: SparkSession, inDir: String, outDir: String, factor: Int,
      tables: Option[Set[String]] = None): Unit = {
    def wanted(t: String): Boolean = tables.forall(_.contains(t))
    def in(t: String): DataFrame = StoredParquet.input(spark, s"$inDir/$t.parquet")

    /** Union of `factor` replicas of `df`, each transformed by per-replica
      * select expressions (replica id substituted for `{r}`). */
    def replicate(df: DataFrame, exprs: Seq[String]): DataFrame =
      (0 until factor).map { r =>
        df.selectExpr(exprs.map(_.replace("{r}", r.toString)): _*)
      }.reduce(_ unionByName _)

    def write(df: => DataFrame, t: String, files: Int): Unit =
      if (wanted(t))
        df.repartition(files).write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // fixed-size dimensions: copy verbatim (TPC-H keeps them constant)
    write(in("region"), "region", 1)
    write(in("nation"), "nation", 1)

    // key spans comfortably above any sf0.1 key
    val OK = 10000000L; val CK = 1000000L; val PK = 1000000L; val SK = 100000L

    write(replicate(in("customer"), Seq(
      s"c_custkey + {r} * $CK AS c_custkey", "* EXCEPT (c_custkey)")), "customer", 4)
    write(replicate(in("supplier"), Seq(
      s"s_suppkey + {r} * $SK AS s_suppkey", "* EXCEPT (s_suppkey)")), "supplier", 2)
    write(replicate(in("part"), Seq(
      s"p_partkey + {r} * $PK AS p_partkey", "* EXCEPT (p_partkey)")), "part", 4)
    write(replicate(in("orders"), Seq(
      s"o_orderkey + {r} * $OK AS o_orderkey",
      s"o_custkey + {r} * $CK AS o_custkey",
      "* EXCEPT (o_orderkey, o_custkey)")), "orders", 16)
    write(replicate(in("lineitem"), Seq(
      s"l_orderkey + {r} * $OK AS l_orderkey",
      s"l_partkey + {r} * $PK AS l_partkey",
      s"l_suppkey + {r} * $SK AS l_suppkey",
      "* EXCEPT (l_orderkey, l_partkey, l_suppkey)")), "lineitem", 32)

    // documents: token-suffix rewrite keeps intra-replica dup structure,
    // kills cross-replica overlap (see scaladoc). The trailing token gets
    // the suffix too (concat), else the last word of every doc is shared
    // across replicas and token-level df for those words scales with the
    // factor, distorting tfidf/heavy-hitter benches (ADVICE r6).
    val docText =
      "CASE WHEN {r} = 0 THEN text ELSE concat(replace(text, ' ', '_{r} '), '_{r}') END"
    write(replicate(in("documents"), Seq(
      "doc_id + {r} * 1000000 AS doc_id",
      s"$docText AS text",
      "lang", "source",
      s"CAST(length($docText) AS BIGINT) AS n_chars")),
      "documents", 16)

    // embeddings: rotate by r positions (slice is 1-based; r=0 = identity).
    // Once r wraps past the dimensionality the rotation alone would repeat
    // (replicas r and r+dims identical → cosine-1.0 pair explosion at
    // factor 100 on 64-dim vectors), so wrap levels transform the signs:
    // level 1 negates the vector (the original scheme — replicas < 2·dims
    // stay bit-identical to tiers generated before r11), and levels ≥ 2
    // apply a per-level hash-derived ± pattern per DIMENSION. All three
    // are norm-preserving; a shared sign pattern cancels inside each
    // replica (s_d² = 1), so intra-replica dot products — the structure
    // every ANN/dedup workload measures — are exact copies of replica 0's,
    // while cross-replica cosines for same-rotation wrap pairs are sums of
    // ±v_d·w_d with independent signs: mean 0, σ ≈ 1/√dims, so a ≥0.9
    // threshold sits > 7σ out. This lifts the old factor-2·dims cap (128
    // at 64 dims) to arbitrary factors — sf100's 1000 replicas included.
    if (wanted("embeddings")) {
      val dims = in("embeddings").selectExpr("size(embedding) AS d").head().getInt(0)
      val rotated =
        s"concat(slice(embedding, (({r}) % $dims) + 1, $dims - (({r}) % $dims)), " +
          s"slice(embedding, 1, ({r}) % $dims))"
      val sign =
        s"CASE WHEN ({r} DIV $dims) = 0 THEN 1 " +
          s"WHEN ({r} DIV $dims) = 1 THEN -1 " +
          "ELSE 1 - 2 * CAST(abs(xxhash64(concat('sgn_', " +
          s"CAST({r} DIV $dims AS STRING), '_', CAST(d AS STRING)))) % 2 AS INT) END"
      write(replicate(in("embeddings"), Seq(
        "vec_id + {r} * 1000000 AS vec_id",
        s"transform($rotated, (x, d) -> CAST(x * ($sign) AS FLOAT)) AS embedding",
        "label")), "embeddings", 8)
    }

    // events: ts passes through verbatim in whatever encoding the driver
    // data uses (Long nanos under nanosAsLong for pre-r8 files,
    // TIMESTAMP_NTZ micros from r8 on) — Engine.table's schema-adaptive
    // normalization handles either on read-back
    write(replicate(in("events"), Seq(
      "event_id + {r} * 100000000 AS event_id",
      "ts",
      "user_id + {r} * 10000000 AS user_id",
      "event_type", "value", "props")), "events", 16)
  }
}
