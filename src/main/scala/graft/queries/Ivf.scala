package graft.queries

import graft.Engine
import graft.queries.Dedup.dotDuck
import graft.queries.Similarity.{assignCells, centroidMatrixSql, centroidSqlAt, hashCentroids, rprojSignsSql}
import graft.sources.StoredParquet
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One IVF (inverted-file) probe pipeline for every ANN codec.
  *
  * A probe is one list of stages, each a CTE of one Spark SQL statement:
  *
  *   1. query-side quantization — the first `nQueries` vectors, coded
  *      the way the codec scores them (flat floats, SQ8 codes + scale, the
  *      JL projection, or a PQ lookup table);
  *   2. coarse cell probe — each query ranks the C centroids by dot
  *      product and keeps its `nProbe` best cells (`probes`);
  *   3. candidate scoring — the broadcast probes join the corpus on cell,
  *      and each candidate is scored with the codec's kernel;
  *   4. shortlist — the `rerank` best approximate candidates per query
  *      survive (`surv`; JL→SQ8 first keeps a `shortlist` by the 16-d
  *      projected dot and SQ8-scores only those);
  *   5. exact re-rank — the final top-k by exact float dot.
  *
  * Four choices assemble a probe ([[Probe]]):
  *   - the coarse quantizer ([[Coarse]]): the 16 hashed centroids as a
  *     plan-constant literal (corpus assignment is an `argmax_dot`
  *     projection in the scan), C hashed centroids shipped as a broadcast
  *     matrix, or a fitted model;
  *   - the codec ([[Codec]]), i.e. what the scoring stage reads per
  *     candidate: flat reads the 64-d vector (256 B of floats in flight,
  *     512 B of doubles from a stored index); SQ8 reads 64 int8 codes and
  *     a scale (72 B); JL→SQ8 reads 16 projected longs (128 B) and then
  *     SQ8 codes for the shortlist only; PQ reads one packed 8-byte code
  *     word;
  *   - the corpus: projected in flight from `embeddings`, or a stored
  *     cell-partitioned index passed in as a DataFrame — the DPP join on
  *     its `cell` partition column skips every unprobed cell;
  *   - the re-rank, implied by the other two: none for flat; in-flight
  *     SQ8/PQ carry both float vectors through the shortlist and re-rank
  *     in-row; a stored index re-fetches its survivors' floats by
  *     `cand_id`, so the scoring scan never reads them.
  *
  * Build and probe share the codec stage: [[corpus]] and [[write]] emit
  * the relation the in-flight probe scores, so a stored index holds
  * exactly the codes a probe would compute.
  *
  * The DuckDB oracles are rendered by [[Duck]], never from these stages:
  * they keep their relational window argmax, their own list kernels and
  * their fixed census literals, so the census compares two independent
  * spellings. Only the engine-neutral window ranking ([[rank]],
  * [[ranked]], [[topK]]) is shared text.
  */
object Ivf {

  sealed trait Coarse
  /** The 16 hashed centroids, inlined as [[Similarity.centroidMatrixSql]]. */
  case object Hashed16 extends Coarse
  /** `c` hashed centroids, assigned through the broadcast matrix. */
  final case class Hashed(c: Int) extends Coarse
  /** A fitted C×d model ([[Similarity.trainCentroids]]). */
  final case class Fitted(cents: Array[Array[Double]]) extends Coarse

  sealed trait Codec
  case object Flat extends Codec
  case object Sq8 extends Codec
  /** SQ8 behind a first stage that keeps `shortlist` candidates per query
    * by the 16-d JL projection; needs a stored index (it reads `pv`). */
  final case class RprojSq8(shortlist: Int) extends Codec
  case object Pq extends Codec

  /** `index`: a stored index written by [[write]] (or the live composition
    * of its segments); `None` projects the corpus in flight. `labels`
    * keeps only candidates sharing the query's label (flat, in flight). */
  final case class Probe(coarse: Coarse = Hashed16, codec: Codec = Flat,
      index: Option[DataFrame] = None, labels: Boolean = false,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 4, rerank: Int = 50)

  private val vecs = "transform(embedding, x -> CAST(x AS DOUBLE))"
  private def cellLit = s"argmax_dot(v, $centroidMatrixSql) AS cell"

  // --- engine-neutral window ranking ---------------------------------------

  /** `inner` plus its row number within `part` by `order`. */
  private[queries] def rank(inner: String, part: String, order: String, rn: String): String =
    s"""SELECT $inner,
       |      row_number() OVER (PARTITION BY $part ORDER BY
       |        $order) AS $rn""".stripMargin

  /** The ranked rows of `from` that pass `rn keep`, projected to `outer`. */
  private[queries] def ranked(outer: String, inner: String, part: String, order: String,
      from: String, rn: String, keep: String, t: String = " t"): String =
    s"""SELECT $outer FROM (
       |    ${rank(inner, part, order, rn)}
       |    FROM $from)$t
       |  WHERE $rn $keep""".stripMargin

  /** The per-query top-k tail: `(query_id, cand_id, carry…, score, rnk)`,
    * ties broken on the candidate id. DuckDB casts its BIGINT `rnk`. */
  private[queries] def topK(qid: String, cid: String, score: String, from: String, k: Int,
      duck: Boolean = false, hint: String = "", carry: Seq[String] = Nil): String = {
    val outer = Seq("query_id", "cand_id") ++ carry.map(_.split('.').last) ++
      Seq("score", if (duck) "CAST(rnk AS INT) AS rnk" else "rnk")
    val inner = Seq(hint + qid, cid) ++ carry :+ (if (score == "score") score else s"$score AS score")
    ranked(outer.mkString(", "), inner.mkString(", "), qid, s"$score DESC, $cid", from, "rnk",
      s"<= $k") + "\nORDER BY query_id, rnk"
  }

  /** The ranked cell probe: each row of `from` keeps its `n` best cells of
    * `cent` by `dot(qv, cv)`, carrying `inner` (outputs named by their
    * alias or column). `cellInside` names the cell inside the window
    * instead of after it, which Spark plans as a different projection. */
  private def probes(dot: (String, String) => String, inner: Seq[String], part: String,
      qv: String, from: String, n: Int, cent: String, cellInside: Boolean = false): String = {
    val c = cent.split(' ').last
    val outer = inner.map(_.split(' ').last.split('.').last) :+ (if (cellInside) "cell" else "cid AS cell")
    ranked(outer.mkString(", "), (inner :+ (if (cellInside) s"$c.cid AS cell" else s"$c.cid")).mkString(", "),
      part, s"${dot(qv, s"$c.cv")} DESC, $c.cid", s"$from CROSS JOIN $cent", "pr", s"<= $n")
  }

  // --- Spark stages ---------------------------------------------------------

  private def sparkDot(a: String, b: String) = s"dot_product($a, $b)"

  /** Σ q·c over two int8 code arrays in BIGINT, times both scales. */
  private def sq8Score(q: String, c: String, qs: String, cs: String) =
    s"CAST(aggregate(zip_with($q, $c, (x, y) -> x * CAST(y AS BIGINT)), 0L, (acc, pr) -> acc + pr) AS DOUBLE) * $qs * $cs"

  /** SQ8 coding of the rows of `embeddings` passing `where`: symmetric
    * int8, scale = max|x| / 127, q = floor(x / scale + 0.5) clamped to
    * ±127, plus the JL projection `qpv` (pruned where unused). All-zero
    * vectors are excluded: their scale is 0 and their cosine with
    * anything is 0. */
  private def sq8Qz(where: String) =
    s"""SELECT vec_id, v, maxabs / 127.0 AS scale,
       |    transform(v, x -> greatest(CAST(-127 AS BIGINT),
       |      least(CAST(127 AS BIGINT), CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)))) AS q8,
       |    rproj_i64(v, $rprojSignsSql) AS qpv
       |  FROM (
       |    SELECT vec_id, v, array_max(transform(v, x -> abs(x))) AS maxabs
       |    FROM (${vectors(where)}))
       |  WHERE maxabs > 0""".stripMargin

  /** PQ over the rows passing `where`: 2^20 fixed-point vectors `f`, the
    * m=8 × ks=16 codebooks `cb` sampled from vec_id < 16, and `cbm`, the
    * codebook as one 128×8 array for the `pq_encode` kernel. */
  private def pqCtes(where: String) =
    s"""e AS (${vectors(where)}),
       |f AS (
       |  SELECT vec_id, v, transform(v, x -> CAST(floor(x * 1048576.0D + 0.5D) AS BIGINT)) AS vf
       |  FROM e),
       |cb AS (
       |  SELECT sub.s, f.vec_id AS j, slice(f.vf, sub.s * 8 + 1, 8) AS cf
       |  FROM f CROSS JOIN (SELECT explode(sequence(0, 7)) AS s) sub
       |  WHERE f.vec_id < 16),
       |cbm AS (
       |  SELECT transform(sort_array(collect_list(named_struct(
       |    'idx', s * 16 + CAST(j AS INT), 'cf', cf))), x -> x.cf) AS m
       |  FROM cb)""".stripMargin

  /** The corpus columns a codec's in-flight probe scores; `stored` adds
    * what only a stored index keeps (int8 codes as TINYINT, and `pv` for
    * the JL first stage). */
  private def corpusCols(codec: Codec, stored: Boolean, labels: Boolean = false): Seq[String] =
    codec match {
      case Flat => Seq("vec_id AS cand_id") ++ (if (labels) Seq("label") else Nil) ++ Seq("v AS cv", cellLit)
      case Pq => Seq("vec_id AS cand_id", "v AS cv", "pq_encode(vf, (SELECT m FROM cbm)) AS cw", cellLit)
      case _ if stored => Seq("vec_id AS cand_id", "v AS cv", "scale AS cscale",
        "transform(q8, x -> CAST(x AS TINYINT)) AS cq", "qpv AS pv", cellLit)
      case _ => Seq("vec_id AS cand_id", "v AS cv", "scale AS cscale", "q8 AS cq", cellLit)
    }

  /** The flat corpus `(cand_id, cv, cell)` of `vectors(vec_id, v)`: cells
    * from the literal's projection, or through the broadcast matrix. */
  def corpus(vectors: DataFrame, coarse: Coarse): DataFrame = coarse match {
    case Hashed16 => vectors.selectExpr(corpusCols(Flat, stored = true): _*)
    case _ => assign(vectors.selectExpr("vec_id AS cand_id", "v AS cv"), coarse)
  }

  private def assign(cands: DataFrame, coarse: Coarse): DataFrame =
    assignCells(cands, "cv", "cell", coarse match {
      case Hashed(c) => hashCentroids(c)
      case Fitted(cents) => cents
      case Hashed16 => hashCentroids(16)
    })

  /** The rows of `embeddings` passing `slice` ("TRUE" renders no filter). */
  private def vectors(slice: String, cols: String = s"vec_id, $vecs AS v") =
    s"SELECT $cols FROM embeddings${if (slice == "TRUE") "" else s" WHERE $slice"}"

  /** Write (or, with mode "append", extend) a cell-partitioned index of
    * the `embeddings` rows passing `slice`. Centroids are deterministic,
    * so appended rows agree with the old ones on cell boundaries. Only the
    * flat codec takes a broadcast or fitted `coarse`. */
  def write(spark: SparkSession, dir: String, codec: Codec, path: String,
      mode: String = "overwrite", slice: String = "TRUE", coarse: Coarse = Hashed16): Unit = {
    Similarity.emb(spark, dir)
    require(codec == Flat || coarse == Hashed16, s"$codec indexes assign cells by the C=16 literal")
    val cols = corpusCols(codec, stored = true).mkString(", ")
    (codec match {
      case Flat => corpus(spark.sql(vectors(slice)), coarse)
      case Pq => spark.sql(s"WITH ${pqCtes(slice)}\nSELECT $cols FROM f")
      case _ => spark.sql(s"WITH qz AS (${sq8Qz(slice)})\nSELECT $cols FROM qz")
    }).write.mode(mode).partitionBy("cell").parquet(path)
  }

  /** Write the index `p` probes to a scratch path — with `append`, as 90%
    * of the corpus plus an appended remainder — and probe it. */
  def indexed(spark: SparkSession, dir: String, p: Probe, append: Boolean = false): DataFrame = {
    val idx = Engine.scratchDir("graft_ivf_idx_") + "/index"
    val codec = p.codec match { case RprojSq8(_) => Sq8; case c => c }
    (if (append) Seq("vec_id % 10 <> 7" -> "overwrite", "vec_id % 10 = 7" -> "append") else Seq("TRUE" -> "overwrite"))
      .foreach { case (slice, mode) => write(spark, dir, codec, idx, mode, slice, p.coarse) }
    topK(spark, dir, p.copy(index = Some(StoredParquet.read(spark, idx))))
  }

  /** Run probe `p` over the `embeddings` table of `dir`. */
  def topK(spark: SparkSession, dir: String, p: Probe): DataFrame = {
    Similarity.emb(spark, dir)
    p.index.foreach(_.createOrReplaceTempView("ivf_index"))
    p.coarse match {
      case Fitted(cents) =>
        import spark.implicits._
        cents.zipWithIndex.toSeq.map { case (cv, i) => (i, cv.toSeq) }
          .toDF("cid", "cv").createOrReplaceTempView("ivfw_cent")
      case _ =>
    }
    if (p.index.isEmpty && p.coarse != Hashed16)
      assign(spark.sql(vectors("TRUE", s"vec_id AS cand_id, $vecs AS cv")), p.coarse)
        .createOrReplaceTempView("ivfw_corpus")
    spark.sql(sql(p))
  }

  private def sql(p: Probe): String = {
    val stored = p.index.isDefined
    val inFlight = !stored && p.coarse == Hashed16
    val corpusRel = if (stored) "ivf_index" else if (inFlight) "corpus" else "ivfw_corpus"
    val cent = p.coarse match {
      case Hashed16 => Seq(s"cent AS (${centroidSqlAt(16)})")
      case Hashed(c) => Seq(s"cent AS (${centroidSqlAt(c)})")
      case Fitted(_) => Nil
    }
    def probe(inner: String*)(part: String, qv: String, from: String, cellInside: Boolean = false) =
      s"probes AS (${probes(sparkDot, inner, part, qv, from, p.nProbe,
        if (cent.isEmpty) "ivfw_cent c" else "cent", cellInside)})"
    def corpusCte(from: String) =
      if (inFlight) Seq(s"corpus AS (SELECT ${corpusCols(p.codec, stored = false, p.labels).mkString(", ")} FROM $from)")
      else Nil
    def surv(cols: String, raw: String) =
      s"surv AS (${ranked(cols, cols, "query_id", "ascore DESC, cand_id", s"($raw) raw", "arnk", s"<= ${p.rerank}")})"
    def scored(carry: String, score: String) =
      s"""SELECT /*+ BROADCAST(p) */ p.query_id, c.cand_id, $carry$score AS ascore
         |FROM probes p JOIN $corpusRel c ON p.cell = c.cell AND p.query_id <> c.cand_id""".stripMargin
    val inRow = topK("query_id", "cand_id", sparkDot("qv", "cv"), "surv", p.k)
    def refetch(score: String, join: String) =
      topK("s.query_id", "s.cand_id", score, s"surv s $join JOIN ivf_index f ON s.cand_id = f.cand_id",
        p.k, hint = "/*+ BROADCAST(s) */ ")
    val stages: Seq[String] = p.codec match {
      case Flat =>
        val lab = if (p.labels) Seq("label") else Nil
        // only the in-flight literal corpus shares its vectors with the queries
        (if (inFlight) Seq(s"e AS (SELECT ${("vec_id" +: lab).mkString(", ")}, $vecs AS v FROM embeddings)") ++
          corpusCte("e") :+ s"queries AS (SELECT vec_id AS query_id, ${lab.map(_ + " AS qlabel, ").mkString}v AS qv FROM e WHERE vec_id < ${p.nQueries})"
        else Seq(s"queries AS (${vectors(s"vec_id < ${p.nQueries}", s"vec_id AS query_id, $vecs AS qv")})")) ++ Seq(
          probe(Seq("q.query_id") ++ lab.map(_ => "q.qlabel") :+ "q.qv": _*)("q.query_id", "q.qv", "queries q",
            cellInside = stored && cent.nonEmpty),
          topK("p.query_id", "c.cand_id", sparkDot("p.qv", "c.cv"),
            s"probes p JOIN $corpusRel c ON p.cell = c.cell${lab.map(_ => " AND c.label = p.qlabel").mkString} AND p.query_id <> c.cand_id",
            p.k, hint = "/*+ BROADCAST(p) */ ", carry = lab.map("c." + _)))
      case Sq8 if !stored =>
        Seq(s"qz AS (${sq8Qz("TRUE")})") ++ corpusCte("qz") ++ Seq(
          s"queries AS (SELECT vec_id AS query_id, v AS qv, scale AS qscale, q8 AS qq FROM qz WHERE vec_id < ${p.nQueries})",
          probe("q.query_id", "q.qv", "q.qscale", "q.qq")("q.query_id", "q.qv", "queries q"),
          surv("query_id, cand_id, qv, cv", scored("p.qv, c.cv, ", sq8Score("p.qq", "c.cq", "p.qscale", "c.cscale"))),
          inRow)
      case Sq8 =>
        Seq(s"qz AS (${sq8Qz(s"vec_id < ${p.nQueries}")})",
          probe("q.vec_id AS query_id", "q.scale AS qscale", "q.q8 AS qq")("q.vec_id", "q.v", "qz q"),
          surv("query_id, cand_id", scored("", sq8Score("p.qq", "c.cq", "p.qscale", "c.cscale"))),
          refetch(sparkDot("q.v", "f.cv"), "JOIN qz q ON s.query_id = q.vec_id"))
      case RprojSq8(shortlist) =>
        require(stored, "the JL→SQ8 probe reads `pv` from a stored index")
        Seq(s"qz AS (${sq8Qz(s"vec_id < ${p.nQueries}")})",
          probe("q.vec_id AS query_id", "q.qpv")("q.vec_id", "q.v", "qz q"),
          s"s1 AS (${ranked("query_id, cand_id", "/*+ BROADCAST(p) */ p.query_id, c.cand_id", "p.query_id",
            "dot_i64(p.qpv, c.pv) DESC, c.cand_id",
            "probes p JOIN ivf_index c ON p.cell = c.cell AND p.query_id <> c.cand_id", "rn", s"<= $shortlist")})",
          surv("query_id, cand_id",
            s"""SELECT /*+ BROADCAST(sl) */ sl.query_id, sl.cand_id,
               |  ${sq8Score("q.q8", "c.cq", "q.scale", "c.cscale")} AS ascore
               |FROM s1 sl JOIN qz q ON sl.query_id = q.vec_id JOIN ivf_index c ON sl.cand_id = c.cand_id""".stripMargin),
          refetch(sparkDot("q.v", "f.cv"), "JOIN qz q ON s.query_id = q.vec_id"))
      case Pq =>
        // ADC: each query's 128-entry fixed-point LUT of partial dots
        // against the codebooks (1-based index s·16+j at read), so a
        // candidate scores by 8 lookups into it
        Seq(pqCtes("TRUE")) ++ corpusCte("f") ++ Seq(
          s"""queries AS (SELECT vec_id AS query_id, v AS qv, vf AS qf FROM f WHERE vec_id < ${p.nQueries}),
             |lut AS (
             |  SELECT query_id,
             |    transform(sort_array(collect_list(named_struct(
             |      'idx', s * 16 + CAST(j AS INT), 'dp', dp))), x -> x.dp) AS lutv
             |  FROM (
             |    SELECT q.query_id, cb.s, cb.j,
             |      aggregate(zip_with(slice(q.qf, cb.s * 8 + 1, 8), cb.cf,
             |        (x, y) -> x * y), 0L, (acc, p) -> acc + p) AS dp
             |    FROM queries q CROSS JOIN cb) t
             |  GROUP BY query_id)""".stripMargin,
          probe("q.query_id", "q.qv", "l.lutv")("q.query_id", "q.qv", "queries q JOIN lut l ON q.query_id = l.query_id")) ++
          (if (stored) Seq(surv("query_id, cand_id, qv", scored("p.qv, ", "pq_adc(p.lutv, c.cw)")),
            refetch(sparkDot("s.qv", "f.cv"), ""))
          else Seq(surv("query_id, cand_id, qv, cv", scored("p.qv, c.cv, ", "pq_adc(p.lutv, c.cw)")), inRow))
    }
    s"WITH ${(cent ++ stages.init).mkString(",\n")}\n${stages.last}"
  }

  // --- DuckDB oracle renderers ----------------------------------------------

  /** The DuckDB spellings of the stages, for the census oracles. */
  private[queries] object Duck {
    /** Relational argmax: each row of `r` joins its max-dot centroid
      * (ties to the lowest cid — `argmax_dot`'s first-max-wins). */
    def assign(r: String, close: String = "\n)"): String =
      s"""assign AS (
         |  ${ranked("vec_id, cid AS cell", s"$r.vec_id, cent.cid", s"$r.vec_id",
        s"${dotDuck(s"$r.v", "cent.cv")} DESC, cent.cid", s"$r CROSS JOIN cent", "rn", "= 1")}$close""".stripMargin

    def probes(inner: Seq[String], part: String, qv: String, from: String, n: Int,
        cent: String = "cent", cellInside: Boolean = false): String =
      Ivf.probes(dotDuck, inner, part, qv, from, n, cent, cellInside)

    /** The flat probe over `queries` and `corpus` CTEs: ranked probes,
      * then the top 10 by exact dot (label-matched when `labels`). */
    def flat(n: Int, labels: Boolean = false, cent: String = "cent"): String = {
      val lab = if (labels) Seq("label") else Nil
      s"""probes AS (
         |  ${probes("q.query_id" +: lab.map(_ => "q.qlabel") :+ "q.qv", "q.query_id", "q.qv", "queries q", n, cent)}
         |)
         |${topK("p.query_id", "c.cand_id", dotDuck("p.qv", "c.cv"),
        s"probes p JOIN corpus c ON p.cell = c.cell${lab.map(_ => " AND c.label = p.qlabel").mkString} AND p.query_id <> c.cand_id",
        carry = lab.map("c." + _))}""".stripMargin
    }

    /** `e`: the (optionally labelled) double vectors of `embeddings`,
      * their cell `assign`ment and the flat `corpus`. */
    def flatCorpus(labels: Boolean = false): String = {
      val lab = if (labels) "label, " else ""
      s"""e AS (
         |  SELECT vec_id, ${lab}list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |${assign("e")},
         |corpus AS (
         |  SELECT e.vec_id AS cand_id, ${if (labels) "e.label, " else ""}e.v AS cv, a.cell
         |  FROM e JOIN assign a ON e.vec_id = a.vec_id
         |)""".stripMargin
    }

    /** The SQ8 clamp of element `x` against the row's `maxabs`. */
    val sq8Code: String =
      """greatest(CAST(-127 AS BIGINT),
        |      least(CAST(127 AS BIGINT),
        |        CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)))""".stripMargin

    /** Σ a·b over two int8 code lists in BIGINT, as DOUBLE. */
    def sq8Dot(a: String, b: String): String =
      s"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])),
         |        (x, y) -> x + y) AS DOUBLE)""".stripMargin

    /** SQ8-coded `qz` over `src`, its cell `assign`ment and the SQ8
      * `corpus`; `extra` CTEs go between `qz` and `assign`. */
    def sq8(src: String, extra: String = ""): String =
      s"""e AS (
         |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM $src)
         |),
         |qz AS (
         |  SELECT vec_id, v, maxabs / 127.0 AS scale,
         |    list_transform(v, x -> $sq8Code) AS q8
         |  FROM e WHERE maxabs > 0
         |),
         |$extra${assign("qz")},
         |corpus AS (
         |  SELECT qz.vec_id AS cand_id, qz.v AS cv, qz.scale AS cscale,
         |    qz.q8 AS cq, a.cell
         |  FROM qz JOIN assign a ON qz.vec_id = a.vec_id
         |)""".stripMargin

    def topK(qid: String, cid: String, score: String, from: String, k: Int = 10,
        carry: Seq[String] = Nil): String =
      Ivf.topK(qid, cid, score, from, k, duck = true, carry = carry)
  }
}
