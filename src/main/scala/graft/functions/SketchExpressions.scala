package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd signature kernels for the dedup operators.
  *
  * The SQL higher-order-function spellings of these folds are evaluated
  * one interpreted lambda call per element — for simhash that is
  * |tokens| × 60 calls per document (~30M for sf0.1), which measured at
  * ~60 s. These expressions run the identical arithmetic as a generated
  * Java loop inside the whole-stage-codegen span: same results, ~ms cost,
  * and the shape that survives a 100 TB scan.
  *
  * Reference analog: the scalar-function extension point
  * (/root/reference/src/functions/src/lib.rs:91-104) — re-expressed as
  * Catalyst expressions with doGenCode, tier (b) of the extension ladder.
  */

/** 60-bit SimHash over a document's token-hash array: bit j is set iff
  * Σ_tokens (bit j of hash ? +1 : −1) ≥ 0. Matches the portable-hash
  * DuckDB oracle fold in queries/Dedup.scala bit for bit. 60 bits, not
  * 64, so the hash width matches the 15-hex-digit portable hash (and
  * DuckDB's checked 1<<63 shift is never needed). */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash60"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash60 needs array<bigint>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 60) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) >= 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $votes = new int[60];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < 60; $j++) {
         |    $votes[$j] += ((($h >>> $j) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $j = 0; $j < 60; $j++) {
         |  if ($votes[$j] >= 0) $fp |= (1L << $j);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact Jaccard similarity of two SORTED distinct string arrays via a
  * merge walk: |a∩b| / (|a|+|b|−|a∩b|). Binary-collation comparisons
  * match Spark's sort_array order, and the final division uses the same
  * int→double operands as the SQL `size(array_intersect)/size(array_union)`
  * spelling, so results are bit-identical while candidate verification
  * runs O(|a|+|b|) in generated code instead of building intersect/union
  * arrays per pair. */
case class JaccardSorted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, StringType}
  override def dataType: DataType = DoubleType
  // Nullable beyond the inputs: two empty sets have an undefined Jaccard
  // (0/0) and yield NULL, matching the non-ANSI division semantics of the
  // equivalent `size(array_intersect)/size(array_union)` SQL spelling.
  override def nullable: Boolean = true
  override def prettyName: String = "jaccard_sorted"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"jaccard_sorted needs (array<string>, array<string>), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    if (na == 0 && nb == 0) return null
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      s"""
         |if ($a.numElements() == 0 && $b.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $i = 0, $j = 0, $inter = 0;
         |  while ($i < $a.numElements() && $j < $b.numElements()) {
         |    int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |    if ($c == 0) { $inter++; $i++; $j++; }
         |    else if ($c < 0) { $i++; } else { $j++; }
         |  }
         |  ${ev.value} = (double) $inter
         |    / ($a.numElements() + $b.numElements() - $inter);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Directional containment of two SORTED distinct string arrays via the
  * same merge walk as [[JaccardSorted]]: returns
  * `[|a∩b|/|a|, |a∩b|/|b|, max(of the two)]`. The ratios use the
  * identical int→double operands as the SQL
  * `CAST(size(array_intersect(a,b)) AS DOUBLE) / size(a)` spelling, so
  * results are bit-identical while the intersection is computed ONCE per
  * pair in O(|a|+|b|) generated code — replacing per-direction
  * `array_intersect` calls that each built a hash set per candidate pair.
  * The pre-folded max exists for the threshold predicate: a filter on
  * `greatest(cs[0], cs[1])` would carry TWO kernel calls after predicate
  * pushdown substitutes the alias into the join condition (join
  * conditions get no subexpression elimination), where `cs[2]` carries
  * exactly one. NULL when either side is empty (the SQL spelling's
  * x/0 → NULL under non-ANSI division). */
case class ContainmentStats(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, StringType}
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "containment_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"containment_stats needs (array<string>, array<string>), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    if (na == 0 || nb == 0) return null
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val cab = inter.toDouble / na
    val cba = inter.toDouble / nb
    new GenericArrayData(Array[Any](cab, cba, math.max(cab, cba)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val cab = ctx.freshName("cab"); val cba = ctx.freshName("cba")
      val out = ctx.freshName("out")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |if ($na == 0 || $nb == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $i = 0, $j = 0, $inter = 0;
         |  while ($i < $na && $j < $nb) {
         |    int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |    if ($c == 0) { $inter++; $i++; $j++; }
         |    else if ($c < 0) { $i++; } else { $j++; }
         |  }
         |  double $cab = (double) $inter / $na;
         |  double $cba = (double) $inter / $nb;
         |  double[] $out = new double[]{$cab, $cba, Math.max($cab, $cba)};
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[ContainmentStats]] over two SORTED distinct BIGINT arrays — the
  * cheap first phase of containment verification. Candidate pairs carry
  * pre-hashed shingle arrays (8 bytes/element vs ~30-byte strings — ¼
  * the join payload, and long compares instead of UTF8 walks); a hash
  * collision can only INFLATE the intersection, so `h[2] ≥ t` admits a
  * SUPERSET of the true pairs and the exact string-walk second phase
  * ([[ContainmentStats]]) re-verifies only the survivors. Recall is
  * therefore unconditional, exactness untouched. */
case class ContainmentStats64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.DoubleType
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "containment_stats64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"containment_stats64 needs (array<bigint>, array<bigint>), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    if (na == 0 || nb == 0) return null
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val cab = inter.toDouble / na
    val cba = inter.toDouble / nb
    new GenericArrayData(Array[Any](cab, cba, math.max(cab, cba)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val cab = ctx.freshName("cab"); val cba = ctx.freshName("cba")
      val out = ctx.freshName("out")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |if ($na == 0 || $nb == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $i = 0, $j = 0, $inter = 0;
         |  while ($i < $na && $j < $nb) {
         |    long $x = $a.getLong($i);
         |    long $y = $b.getLong($j);
         |    if ($x == $y) { $inter++; $i++; $j++; }
         |    else if ($x < $y) { $i++; } else { $j++; }
         |  }
         |  double $cab = (double) $inter / $na;
         |  double $cba = (double) $inter / $nb;
         |  double[] $out = new double[]{$cab, $cba, Math.max($cab, $cba)};
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product of two double arrays, folded in index order from 0.0 —
  * the same IEEE sequence as `aggregate(zip_with(a, b, *), 0.0, +)` and
  * the DuckDB oracles' list_reduce, so cosine scores stay bit-identical
  * while candidate scoring runs as one generated loop. */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.DoubleType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs (array<double>, array<double>), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-lane MinHash over a set's base-hash array: lane i tracks
  * min over elements of g_i(h) = h·A_i + B_i (wrapping 64-bit arithmetic;
  * A_i odd ⇒ each g_i is a bijection on Z/2^64). An empty array yields
  * all-Long.MaxValue lanes, matching the SQL fold's init value.
  *
  * MinHash needs only *some* family of deterministic per-lane hashes —
  * the correctness gate is the exact all-pairs Jaccard oracle (recall
  * must stay 1.0), so the lane family is chosen for speed, not for
  * matching any particular SQL builtin. */
/** Random-hyperplane LSH signature: bit p of the result is set iff
  * v · planes[p] ≥ 0, with the dot product folded in index order from 0.0
  * — the same IEEE sequence as the SQL `aggregate` spelling and the
  * DuckDB oracle's list_reduce, so signatures stay bit-identical while
  * the 16×64 multiply-adds per row run as a generated Java loop. */
case class HyperplaneSig(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.DoubleType
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_sig needs (array<double>, array<array<double>>), got $other")
    }
  }

  override def nullSafeEval(v: Any, planes: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val pm = planes.asInstanceOf[ArrayData]
    val dims = vec.numElements()
    var sig = 0
    var p = 0
    while (p < pm.numElements()) {
      val plane = pm.getArray(p)
      var s = 0.0
      var d = 0
      while (d < dims) { s += vec.getDouble(d) * plane.getDouble(d); d += 1 }
      if (s >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, pm) => {
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val plane = ctx.freshName("plane")
      s"""
         |int $sig = 0;
         |for (int $p = 0; $p < $pm.numElements(); $p++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $plane = $pm.getArray($p);
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $v.numElements(); $d++) {
         |    $s += $v.getDouble($d) * $plane.getDouble($d);
         |  }
         |  if ($s >= 0) $sig |= (1 << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Index of the row of `planes` whose dot product with `v` is maximal
  * (ties → lowest index), each dot folded in array-index order from 0.0 —
  * the identical IEEE sequence as [[DotProduct]] and the DuckDB oracles'
  * list_reduce, and the identical winner as
  * `row_number() OVER (ORDER BY dot_product(v, p) DESC, idx) = 1`.
  *
  * This is the shuffle-free IVF centroid assignment: the centroid matrix
  * is a plan-time constant, so assignment is a pure projection evaluated
  * inside the scan's codegen span. The window-function spelling of the
  * same argmax forces a corpus-wide exchange on the row id; at 100 TB
  * that is the difference between a scan-speed assignment pass and a
  * shuffle of the entire corpus. NULL on an empty plane matrix (no rows →
  * no rank-1 row in the window spelling either).
  */
case class ArgmaxDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, IntegerType}
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "argmax_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmax_dot needs (array<double>, array<array<double>>), got $other")
    }

  override def nullSafeEval(v: Any, planes: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val pm = planes.asInstanceOf[ArrayData]
    val nPlanes = pm.numElements()
    if (nPlanes == 0) return null
    val dims = vec.numElements()
    var best = 0.0
    var bestIdx = 0
    var p = 0
    while (p < nPlanes) {
      val plane = pm.getArray(p)
      var s = 0.0
      var d = 0
      while (d < dims) { s += vec.getDouble(d) * plane.getDouble(d); d += 1 }
      if (p == 0 || s > best) { best = s; bestIdx = p }
      p += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, pm) => {
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val plane = ctx.freshName("plane")
      s"""
         |if ($pm.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $best = 0.0;
         |  int $bestIdx = 0;
         |  for (int $p = 0; $p < $pm.numElements(); $p++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $plane = $pm.getArray($p);
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $v.numElements(); $d++) {
         |      $s += $v.getDouble($d) * $plane.getDouble($d);
         |    }
         |    if ($p == 0 || $s > $best) { $best = $s; $bestIdx = $p; }
         |  }
         |  ${ev.value} = $bestIdx;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[ArgmaxDot]] against a BROADCAST centroid matrix — the scale path
  * past the plan-constant literal. A foldable SQL literal caps C at toy
  * sizes (text size, parse time, per-plan re-embedding); production IVF
  * sizes C ~ √N, so the matrix ships once per executor as a Spark
  * broadcast and the expression resolves it lazily per codegen instance
  * (one `.value()` call in the generated class's init, not per row).
  * Assignment stays a pure projection — no join against a centroid
  * relation, no Exchange before the cell column exists
  * (CentroidBroadcastSpec pins that at C=256). Same argmax contract as
  * [[ArgmaxDot]]: index-order IEEE dot folds, first-max-wins ties, NULL
  * on an empty matrix. */
case class ArgmaxDotBroadcast(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{DoubleType, IntegerType}
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "argmax_dot_bc"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmax_dot_bc needs array<double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val m = bc.value
    if (m.length == 0) return null
    val dims = vec.numElements()
    var best = 0.0
    var bestIdx = 0
    var p = 0
    while (p < m.length) {
      val plane = m(p)
      var s = 0.0
      var d = 0
      val n = math.min(dims, plane.length)
      while (d < n) { s += vec.getDouble(d) * plane(d); d += 1 }
      if (p == 0 || s > best) { best = s; bestIdx = p }
      p += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcCentroids", bc,
      "org.apache.spark.broadcast.Broadcast")
    // resolved once per generated-class instance, not per row
    val mat = ctx.addMutableState("double[][]", "centroidMat",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v => {
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val plane = ctx.freshName("plane")
      s"""
         |if ($mat.length == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $best = 0.0;
         |  int $bestIdx = 0;
         |  for (int $p = 0; $p < $mat.length; $p++) {
         |    double[] $plane = $mat[$p];
         |    double $s = 0.0;
         |    int $n = Math.min($v.numElements(), $plane.length);
         |    for (int $d = 0; $d < $n; $d++) {
         |      $s += $v.getDouble($d) * $plane[$d];
         |    }
         |    if ($p == 0 || $s > $best) { $best = $s; $bestIdx = $p; }
         |  }
         |  ${ev.value} = $bestIdx;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash64 needs array<bigint>, got $other")
    }
  }

  // Odd multiplier / increment families (splitmix64 constants).
  @inline private def mulOf(lane: Int): Long = (2L * lane + 1L) * 0x9E3779B97F4A7C15L
  @inline private def incOf(lane: Int): Long = lane * 0xBF58476D1CE4E5B9L

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(64)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var k = 0
      while (k < 64) {
        val g = h * mulOf(k) + incOf(k)
        if (g < mins(k)) mins(k) = g
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val g = ctx.freshName("g")
      s"""
         |long[] $mins = new long[64];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $k = 0; $k < 64; $k++) {
         |    long $g = $h * ((2L * $k + 1L) * -7046029254386353131L)
         |            + ($k * -4658895280553007687L);
         |    if ($g < $mins[$k]) $mins[$k] = $g;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Symmetric int8 quantization statistics of a vector, as one codegen
  * loop: returns `[scale, max_err, mse]` where scale = max|x|/127,
  * q_i = clamp(floor(x_i·127/max|x| + 0.5), ±127), err_i = x_i − q_i·
  * max|x|/127 — the EXACT IEEE operation order of the SQL higher-order
  * spelling in queries/Similarity.scala and its DuckDB oracle, so
  * results stay bit-identical while the 3 passes over the vector run as
  * generated Java instead of one interpreted lambda call per element.
  * Accepts array<float> (cast per element — exact) or array<double>.
  * NULL for an empty or all-zero vector (no scale exists).
  */
case class QuantStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{DoubleType, FloatType}
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "quant_stats"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quant_stats needs array<float> or array<double>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    def at(i: Int): Double = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
    var maxabs = 0.0
    var i = 0
    while (i < n) { val v = math.abs(at(i)); if (v > maxabs) maxabs = v; i += 1 }
    if (n == 0 || maxabs == 0.0) null
    else {
      var maxErr = 0.0
      var sse = 0.0
      i = 0
      while (i < n) {
        val x = at(i)
        var q = math.floor(x * 127.0 / maxabs + 0.5).toLong
        if (q > 127L) q = 127L
        if (q < -127L) q = -127L
        val err = x - q.toDouble * maxabs / 127.0
        val ae = math.abs(err)
        if (ae > maxErr) maxErr = ae
        sse += err * err
        i += 1
      }
      new GenericArrayData(Array[Any](maxabs / 127.0, maxErr, sse / n))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val x = ctx.freshName("x"); val m = ctx.freshName("maxabs")
      val q = ctx.freshName("q"); val err = ctx.freshName("err")
      val ae = ctx.freshName("ae"); val me = ctx.freshName("maxErr")
      val sse = ctx.freshName("sse"); val out = ctx.freshName("out")
      val get = (idx: String) =>
        if (isFloat) s"(double) $a.getFloat($idx)" else s"$a.getDouble($idx)"
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = Math.abs(${get(i)});
         |  if ($x > $m) $m = $x;
         |}
         |if ($n == 0 || $m == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $me = 0.0;
         |  double $sse = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = ${get(i)};
         |    long $q = (long) Math.floor($x * 127.0 / $m + 0.5);
         |    if ($q > 127L) $q = 127L;
         |    if ($q < -127L) $q = -127L;
         |    double $err = $x - (double) $q * $m / 127.0;
         |    double $ae = Math.abs($err);
         |    if ($ae > $me) $me = $ae;
         |    $sse += $err * $err;
         |  }
         |  double[] $out = new double[]{$m / 127.0, $me, $sse / $n};
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Repetition statistics of a token array, as one generated loop:
  * returns `[n_tokens, n_3grams, n_distinct_3grams, top_token_count]`
  * — the integer inputs of queries/TextAnalysis.scoreRepetition's
  * fractions. Replaces three interpreted lambda passes (3-gram
  * transform, distinct build, sorted-run fold); the outputs are exact
  * integers, so the derived fractions stay bit-identical to the SQL
  * spelling and the DuckDB oracle. `[n, n-2, 0, 0]`-shaped underflow
  * can't occur: callers filter n ≥ 3 (matching the oracle's WHERE).
  * Uses JVM collections inside codegen (allowed — whole-stage codegen
  * emits arbitrary Java), trading a per-row HashMap for the per-element
  * lambda interpreter.
  */
case class RepStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rep_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rep_stats needs array<string>, got $other")
    }

  /** Shared by eval and the generated code (the loop is collection-
    * bound, so a static helper keeps the codegen template tiny). */
  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = a.getUTF8String(i).toString; i += 1 }
    new GenericArrayData(RepStats.compute(toks).map(_.asInstanceOf[Any]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val toks = ctx.freshName("toks")
      s"""
         |int $n = $a.numElements();
         |String[] $toks = new String[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $toks[$i] = $a.getUTF8String($i).toString();
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.RepStats.computeBoxed($toks));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RepStats {
  /** `[n, n-2, distinct 3-grams, max token multiplicity]`. */
  def compute(toks: Array[String]): Array[Long] = {
    val n = toks.length
    val grams = new java.util.HashSet[String]()
    var i = 0
    while (i + 2 < n) {
      grams.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val counts = new java.util.HashMap[String, Int]()
    var top = 0
    i = 0
    while (i < n) {
      val c = counts.merge(toks(i), 1, Integer.sum)
      if (c > top) top = c
      i += 1
    }
    Array(n.toLong, (n - 2).toLong, grams.size.toLong, top.toLong)
  }

  /** Boxed variant for the generated code (GenericArrayData wants Object[]). */
  def computeBoxed(toks: Array[String]): Array[AnyRef] =
    compute(toks).map(java.lang.Long.valueOf)
}

/** Curation scoring statistics of a raw document string, as one pass:
  * returns `[n_tokens, n_stopwords, n_words, n_distinct_words]` —
  * the exact integer inputs of queries/Curate.curatedCorpus's ratios.
  *
  * Semantics replicate the Java-regex spelling the pipeline previously
  * used (and whose DuckDB oracle is pinned hash-green), term for term:
  *   - n_tokens: maximal runs of non-whitespace in the ORIGINAL text,
  *     whitespace = Java regex `\s` = [ \t\n\x0B\f\r] (ASCII-only);
  *   - n_stopwords: matches of `\b(the|a|and|of|to|in|is)\b` over
  *     lower(text). A match requires word boundaries on both sides and
  *     the alternation is all word chars, so it is exactly a maximal
  *     `\w`-run ([a-zA-Z0-9_], Java default ASCII classes) equal to one
  *     of the seven stopwords;
  *   - n_words / n_distinct_words: total and distinct maximal [a-z]
  *     runs over lower(text).
  * lower() goes through UTF8String.toLowerCase — the identical
  * implementation behind Spark's `lower`, so Unicode case folding stays
  * bit-compatible with the SQL spelling.
  *
  * Why a kernel and not three `regexp_extract_all` calls: the regex
  * spelling materializes three full token ARRAYS per row (one twice)
  * plus an array_distinct — at sf10 under 32 concurrent tasks that
  * array churn inverted core scaling (VERDICT r10 #3: 20.8 s at 32
  * cores vs 8.8 s at 8). This loop allocates one lowered string and one
  * small per-row word set, and the counts stay inside the scan's
  * whole-stage-codegen span. TextStatsSpec pins kernel == regex
  * spelling over the full sf0.01 documents corpus.
  */
case class TextStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_stats"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"text_stats needs string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextStats.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        .map(_.asInstanceOf[Any]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextStats.computeBoxed($s));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextStats {
  private val stopwords = java.util.Set.of("the", "a", "and", "of", "to", "in", "is")

  @inline private def isJavaSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'
  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** `[n_tokens, n_stopwords, n_words, n_distinct_words]`. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
    val text = s.toString
    var nTokens = 0L
    var i = 0
    val n = text.length
    while (i < n) {
      if (!isJavaSpace(text.charAt(i))) {
        nTokens += 1
        while (i < n && !isJavaSpace(text.charAt(i))) i += 1
      } else i += 1
    }
    // the two lower(text) scans share one lowered string; \w-runs (for
    // stopwords) and [a-z]-runs (for word counts) are tracked in the
    // same pass with independent run state
    val low = s.toLowerCase.toString
    val m = low.length
    var nStop = 0L
    var nWords = 0L
    val words = new java.util.HashSet[String]()
    var wStart = -1 // current \w-run start, -1 when not in a run
    var aStart = -1 // current [a-z]-run start
    i = 0
    while (i <= m) {
      val c = if (i < m) low.charAt(i) else ' '
      val isW = i < m && isWordChar(c)
      val isA = i < m && c >= 'a' && c <= 'z'
      if (isW && wStart < 0) wStart = i
      else if (!isW && wStart >= 0) {
        if (i - wStart <= 3 && stopwords.contains(low.substring(wStart, i))) nStop += 1
        wStart = -1
      }
      if (isA && aStart < 0) aStart = i
      else if (!isA && aStart >= 0) {
        nWords += 1
        words.add(low.substring(aStart, i))
        aStart = -1
      }
      i += 1
    }
    Array(nTokens, nStop, nWords, words.size.toLong)
  }

  /** Boxed variant for the generated code (GenericArrayData wants Object[]). */
  def computeBoxed(s: org.apache.spark.unsafe.types.UTF8String): Array[AnyRef] =
    compute(s).map(java.lang.Long.valueOf)
}

/** Johnson-Lindenstrauss random projection in EXACT integer arithmetic.
  *
  * Classic JL projections (Achlioptas 2003's database-friendly ±1 sign
  * matrix) are float ops whose sums depend on accumulation order — not
  * hash-checkable across engines. This variant quantizes each input
  * component first, q_j = floor(x_j·2^20 + 0.5) (one double multiply +
  * floor: identical IEEE ops on both engines), then output k is the
  * integer sum Σ_j signs[k][j]·q_j — order-independent BIGINTs, so the
  * projected vectors, their dot products, and any downstream ranking are
  * bit-identical on Spark and the DuckDB oracle at any scale.
  *
  * The sign matrix arrives as an `array<array<int>>` expression — in
  * practice a plan-time foldable literal derived from the portable md5
  * hash (see queries/Similarity.rprojSignsSql), tiny at out×64 ints. For
  * out-dims large enough that a literal strains the plan, the broadcast
  * pattern of [[ArgmaxDotBroadcast]] applies unchanged.
  *
  * Bounds: |x| ≤ 1 (L2-normalized input) ⇒ |q_j| ≤ 2^20, |p_k| ≤ 64·2^20
  * = 2^26, and a projected dot product ≤ 16·2^52 = 2^56 — no overflow.
  *
  * Null domain (ADVICE r12): the function is registered publicly, so a
  * NULL vector element must not silently read as 0 through the primitive
  * slot — a vector containing any null element projects to NULL (the
  * scan loop below), and a sign matrix with nullable elements is
  * rejected at analysis time (ours are int literals, containsNull=false
  * by construction).
  */
case class RProjI64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, IntegerType}
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rproj_i64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(IntegerType, false), false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rproj_i64 needs (array<double>, array<array<int>> with non-null elements), got $other")
    }

  override def nullSafeEval(v: Any, sm: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val signs = sm.asInstanceOf[ArrayData]
    val n = vec.numElements()
    var i = 0
    while (i < n) { if (vec.isNullAt(i)) return null; i += 1 }
    val q = new Array[Long](n)
    var j = 0
    while (j < n) { q(j) = math.floor(vec.getDouble(j) * 1048576.0 + 0.5).toLong; j += 1 }
    val out = new Array[Long](signs.numElements())
    var k = 0
    while (k < out.length) {
      val row = signs.getArray(k)
      var s = 0L
      val m = math.min(n, row.numElements())
      j = 0
      while (j < m) { s += row.getInt(j) * q(j); j += 1 }
      out(k) = s
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, sm) => {
      val q = ctx.freshName("q"); val out = ctx.freshName("out")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val s = ctx.freshName("s"); val m = ctx.freshName("m")
      val row = ctx.freshName("row"); val hasNull = ctx.freshName("hasNull")
      s"""
         |boolean $hasNull = false;
         |for (int $j = 0; $j < $v.numElements(); $j++) {
         |  if ($v.isNullAt($j)) { $hasNull = true; break; }
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $q = new long[$v.numElements()];
         |  for (int $j = 0; $j < $q.length; $j++) {
         |    $q[$j] = (long) Math.floor($v.getDouble($j) * 1048576.0 + 0.5);
         |  }
         |  long[] $out = new long[$sm.numElements()];
         |  for (int $k = 0; $k < $out.length; $k++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $row = $sm.getArray($k);
         |    long $s = 0L;
         |    int $m = Math.min($q.length, $row.numElements());
         |    for (int $j = 0; $j < $m; $j++) {
         |      $s += $row.getInt($j) * $q[$j];
         |    }
         |    $out[$k] = $s;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact integer dot product of two bigint arrays — the scoring kernel of
  * the projected space [[RProjI64]] produces. Unlike the double
  * [[DotProduct]], integer sums are order-independent, so a ranking by
  * this score is hash-checkable on both engines with no IEEE-sequence
  * pinning. */
case class DotI64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_i64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_i64 needs (array<bigint>, array<bigint>), got $other")
    }

  // ADVICE r12: publicly-registered — a null element must not read as 0
  // through the primitive slot; any null element in the overlapped span
  // makes the product NULL (rproj_i64 outputs are containsNull=false, so
  // the guard never fires on the repo's own call sites)
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i); i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Elements of a bigint array NOT present in a broadcast SORTED bigint
  * array, order-preserving — the per-row spelling of a broadcast LEFT
  * ANTI JOIN. Each element costs one binary search against the
  * executor-resident array, so a document's rare-shingle subset (and,
  * via size(), its rare count) falls out of the SCAN projection — no
  * explode-then-anti-join, no per-doc aggregate exchange, and no
  * posting-level attach join to carry the count back (the r12
  * rare-index rebuild: that attach join was the build's last full
  * posting shuffle). */
case class NotInSorted64(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "not_in_sorted64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"not_in_sorted64 needs array<bigint>, got $other")
    }

  // ADVICE r12: a null element must not read as 0 through the primitive
  // slot (0 is a legal shingle hash) — an array containing one is NULL
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sorted = bc.value
    val n = arr.numElements()
    val out = new Array[Long](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val x = arr.getLong(i)
      if (java.util.Arrays.binarySearch(sorted, x) < 0) { out(k) = x; k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcSorted", bc,
      "org.apache.spark.broadcast.Broadcast")
    // resolved once per generated-class instance, not per row
    val sorted = ctx.addMutableState("long[]", "sortedSet",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      s"""
         |long[] $out = new long[$v.numElements()];
         |int $k = 0;
         |for (int $i = 0; $i < $v.numElements(); $i++) {
         |  if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $x = $v.getLong($i);
         |  if (java.util.Arrays.binarySearch($sorted, $x) < 0) { $out[$k++] = $x; }
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
         |    java.util.Arrays.copyOf($out, $k));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Packed product-quantization code word of a fixed-point vector against
  * per-subspace codebooks — the codegen kernel behind `ann_ivf_pq`'s
  * encode (OPTIMIZATION r14).
  *
  * Contract (identical arithmetic to the SQL spelling it replaces and to
  * the DuckDB oracle's replay):
  *   - `vf`: array<bigint>, the 2^20 fixed-point vector;
  *   - `cb`: array<array<bigint>> of m*16 entries ordered by s*16+j, each
  *     a subDim-long codebook centroid (subDim = len(vf)/m, m = len(cb)/16);
  *   - for each subspace s: d2(j) = sum_i (vf[s*subDim+i] - cb[s*16+j][i])^2,
  *     code_s = argmin_j over the composite key d2*16+j (the key embeds j,
  *     so the min is unique — exactly `min(d2*16+j) % 16`);
  *   - result cw = sum_s code_s << 4s.
  *
  * The SQL spelling computed this as an N x (m*16)-row cross join with one
  * interpreted `aggregate(zip_with(slice(...)))` lambda chain per row,
  * then two aggregate exchanges (argmin per (vec,s), pack per vec) and a
  * corpus self-join to attach cw — this kernel folds all of it into one
  * projection inside the scan's codegen span: no cross join, no exchange,
  * no attach join. Same 100 TB argument as [[ArgmaxDot]]: encode must be
  * a scan-speed map pass, never a corpus shuffle.
  *
  * NULL domain: a NULL element in `vf` (or a NULL codebook entry/element)
  * yields NULL — nothing may read as 0 through the primitive slot
  * (ADVICE r12 discipline). Empty codebook yields NULL, and so does any
  * MALFORMED shape (len(cb) not a multiple of 16, or len(vf) not a
  * multiple of m) — never a silent truncation of trailing entries/dims
  * (ADVICE r14). */
case class PqEncode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode needs (array<bigint>, array<array<bigint>>), got $other")
    }

  override def nullSafeEval(v: Any, cbAny: Any): Any = {
    val vf = v.asInstanceOf[ArrayData]
    val cb = cbAny.asInstanceOf[ArrayData]
    val m = cb.numElements() / 16
    // malformed inputs yield NULL, never a silent truncation (ADVICE
    // r14): a codebook that is not m*16 entries or a vector that is not
    // m*subDim dims would otherwise drop trailing entries/dims and
    // diverge from the SQL spelling this kernel is pinned equal to
    if (m == 0 || cb.numElements() % 16 != 0) return null
    if (vf.numElements() % m != 0) return null
    val subDim = vf.numElements() / m
    var i = 0
    while (i < vf.numElements()) { if (vf.isNullAt(i)) return null; i += 1 }
    var cw = 0L
    var s = 0
    while (s < m) {
      var bestKey = Long.MaxValue
      var j = 0
      while (j < 16) {
        if (cb.isNullAt(s * 16 + j)) return null
        val cf = cb.getArray(s * 16 + j)
        var d2 = 0L
        var d = 0
        while (d < subDim) {
          if (cf.isNullAt(d)) return null
          val diff = vf.getLong(s * subDim + d) - cf.getLong(d)
          d2 += diff * diff
          d += 1
        }
        val key = d2 * 16 + j
        if (key < bestKey) bestKey = key
        j += 1
      }
      cw += (bestKey % 16) << (4 * s)
      s += 1
    }
    cw
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb) => {
      val m = ctx.freshName("m"); val subDim = ctx.freshName("subDim")
      val cw = ctx.freshName("cw"); val s = ctx.freshName("s")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val d2 = ctx.freshName("d2"); val diff = ctx.freshName("diff")
      val key = ctx.freshName("key"); val bestKey = ctx.freshName("bestKey")
      val cf = ctx.freshName("cf"); val i = ctx.freshName("i")
      val outer = ctx.freshName("outer")
      s"""
         |int $m = $cb.numElements() / 16;
         |if ($m == 0 || $cb.numElements() % 16 != 0 ||
         |    $v.numElements() % $m != 0) { ${ev.isNull} = true; }
         |for (int $i = 0; !${ev.isNull} && $i < $v.numElements(); $i++) {
         |  if ($v.isNullAt($i)) { ${ev.isNull} = true; }
         |}
         |if (!${ev.isNull}) {
         |  int $subDim = $v.numElements() / $m;
         |  long $cw = 0L;
         |  $outer: for (int $s = 0; $s < $m; $s++) {
         |    long $bestKey = Long.MAX_VALUE;
         |    for (int $j = 0; $j < 16; $j++) {
         |      if ($cb.isNullAt($s * 16 + $j)) { ${ev.isNull} = true; break $outer; }
         |      org.apache.spark.sql.catalyst.util.ArrayData $cf = $cb.getArray($s * 16 + $j);
         |      long $d2 = 0L;
         |      for (int $d = 0; $d < $subDim; $d++) {
         |        if ($cf.isNullAt($d)) { ${ev.isNull} = true; break $outer; }
         |        long $diff = $v.getLong($s * $subDim + $d) - $cf.getLong($d);
         |        $d2 += $diff * $diff;
         |      }
         |      long $key = $d2 * 16 + $j;
         |      if ($key < $bestKey) $bestKey = $key;
         |    }
         |    $cw += ($bestKey % 16) << (4 * $s);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $cw; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqEncode {
  /** Validated SQL-registry builder (ADVICE r14 — the WordNgrams
    * discipline): a wrong argument count reports a clear analysis-time
    * error instead of an IndexOutOfBoundsException. */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"pq_encode expects 2 arguments (vec array<bigint>, codebook array<array<bigint>>); got ${exprs.length}")
    PqEncode(exprs(0), exprs(1))
  }
}

/** Asymmetric-distance score of a packed PQ code word against a query's
  * lookup table — the codegen kernel behind the `ann_ivf_pq` / PQ-probe
  * ADC stage (OPTIMIZATION r14).
  *
  * Contract (identical to the SQL fold it replaces):
  *   score = sum_{s=0..m-1} lut[s*16 + ((cw >> 4s) & 15)]   (m = len(lut)/16)
  * exactly `aggregate(sequence(0, m-1), 0L, (acc, s) -> acc +
  * element_at(lut, s*16 + shiftright(cw, 4*s) % 16 + 1))`, which paid one
  * interpreted lambda chain per candidate row (the probed cells' full
  * candidate set). NULL domain: NULL lut element at a read index → NULL
  * (element_at parity); a lut whose length isn't a multiple of 16 scores
  * its complete subspaces (our luts are exactly m*16 by construction).
  *
  * Precondition (ADVICE r14): `cw` must be NON-NEGATIVE. The kernel's
  * `(cw >> 4s) & 15` and the replaced SQL's sign-following
  * `shiftright(cw, 4s) % 16` agree only then — pq_encode can never set
  * bit 63 (m ≤ 15 subspaces × 4 bits), so every stored/in-flight code
  * word satisfies it by construction; a hand-built negative cw is out
  * of contract. */
case class PqAdc(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc needs (array<bigint>, bigint), got $other")
    }

  override def nullSafeEval(lutAny: Any, cwAny: Any): Any = {
    val lut = lutAny.asInstanceOf[ArrayData]
    val cw = cwAny.asInstanceOf[Long]
    val m = lut.numElements() / 16
    var acc = 0L
    var s = 0
    while (s < m) {
      val idx = s * 16 + ((cw >> (4 * s)) & 15L).toInt
      if (lut.isNullAt(idx)) return null
      acc += lut.getLong(idx)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, cw) => {
      val m = ctx.freshName("m"); val s = ctx.freshName("s")
      val acc = ctx.freshName("acc"); val idx = ctx.freshName("idx")
      s"""
         |int $m = $lut.numElements() / 16;
         |long $acc = 0L;
         |for (int $s = 0; $s < $m; $s++) {
         |  int $idx = $s * 16 + (int) (($cw >> (4 * $s)) & 15L);
         |  if ($lut.isNullAt($idx)) { ${ev.isNull} = true; break; }
         |  $acc += $lut.getLong($idx);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdc {
  /** Validated SQL-registry builder (ADVICE r14 — see [[PqEncode.build]]). */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"pq_adc expects 2 arguments (lut array<bigint>, cw bigint); got ${exprs.length}")
    PqAdc(exprs(0), exprs(1))
  }
}
