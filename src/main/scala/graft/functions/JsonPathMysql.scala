package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, TextNode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** MySQL-flavored jsonpath, matching the reference's compiled-path
  * semantics (/root/reference/src/data/src/jsonpath_utils.rs:87-190):
  *
  *   - grammar: `$` then `.key` / `["key"]` (case-INsensitive object
  *     lookup), `.n` / `[n]` (array index; on objects matches the key
  *     "n"), `.*` / `[*]` wildcard;
  *   - a path containing any wildcard "could return many": all matches
  *     are wrapped in a JSON array (MySQL convention,
  *     jsonpath_utils.rs:38-46); otherwise first match or NULL.
  *
  * Spark's built-in get_json_object follows different (case-sensitive,
  * no-wrap) rules, hence this custom Catalyst expression — preference
  * tier (b) of the extension ladder: an Expression, not a UDF, so it
  * stays inside the optimizer (constant-folds, null-propagates) even
  * though JSON parsing itself is CodegenFallback.
  */
object JsonPathMysql {

  sealed trait Step
  case object Wild extends Step
  final case class Key(k: String) extends Step
  final case class Idx(i: Long) extends Step

  /** Parse `$...` → steps; None on invalid path (evaluates to NULL). */
  def parsePath(path: String): Option[Seq[Step]] = {
    if (!path.startsWith("$")) return None
    var rest = path.substring(1)
    val steps = Seq.newBuilder[Step]
    while (rest.nonEmpty) {
      if (rest.startsWith(".*")) { steps += Wild; rest = rest.substring(2) }
      else if (rest.startsWith("[*]")) { steps += Wild; rest = rest.substring(3) }
      else if (rest.startsWith("[")) {
        val end = rest.indexOf(']')
        if (end < 0) return None
        val inner = rest.substring(1, end).trim
        rest = rest.substring(end + 1)
        if ((inner.startsWith("\"") && inner.endsWith("\"") && inner.length >= 2) ||
            (inner.startsWith("'") && inner.endsWith("'") && inner.length >= 2))
          steps += Key(unescape(inner.substring(1, inner.length - 1)))
        else inner.toLongOption match {
          case Some(i) => steps += Idx(i)
          case None => return None
        }
      } else if (rest.startsWith(".")) {
        val body = rest.substring(1)
        val end0 = body.indexWhere(c => c == '.' || c == '[')
        val end = if (end0 < 0) body.length else end0
        if (end == 0) return None
        val ident = body.substring(0, end)
        rest = body.substring(end)
        ident.toLongOption match {
          case Some(i) => steps += Idx(i)
          case None => steps += Key(ident)
        }
      } else return None
    }
    Some(steps.result())
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
          case 't' => sb.append('\t'); case c => sb.append(c)
        }
        i += 2
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  def couldReturnMany(steps: Seq[Step]): Boolean = steps.contains(Wild)

  /** Walk, collecting matches in document order (jsonpath_utils.rs:95-190). */
  def evaluate(node: JsonNode, steps: Seq[Step], out: java.util.List[JsonNode]): Unit = {
    if (steps.isEmpty) { out.add(node); return }
    val rest = steps.tail
    if (node.isObject) {
      steps.head match {
        case Wild =>
          node.properties().asScala.foreach(e => evaluate(e.getValue, rest, out))
        case Key(k) =>
          node.properties().asScala
            .find(e => e.getKey.equalsIgnoreCase(k))
            .foreach(e => evaluate(e.getValue, rest, out))
        case Idx(i) =>
          // JS-style: numeric selector matches the object key "<n>"
          Option(node.get(i.toString)).foreach(evaluate(_, rest, out))
      }
    } else if (node.isArray) {
      steps.head match {
        case Wild => node.elements().asScala.foreach(evaluate(_, rest, out))
        case Key(k) =>
          k.toLongOption.filter(_ >= 0).flatMap(i => Option(node.get(i.toInt)))
            .foreach(evaluate(_, rest, out))
        case Idx(i) if i >= 0 =>
          Option(node.get(i.toInt)).foreach(evaluate(_, rest, out))
        case _ => ()
      }
    }
    // scalars: no selector matches (jsonpath_utils.rs:187 `_ => {}`)
  }

  private[functions] val mapper = new ObjectMapper()
}

/** `json_extract_mysql(json, path)` ≡ the reference's `json_extract` / `->`
  * (/root/reference/src/functions/src/scalar/json/json_extract.rs:11-47).
  * Returns JSON text; wildcard paths yield a JSON array of all matches.
  */
case class JsonExtractMysql(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  import JsonPathMysql._

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_extract_mysql"

  // Path text → compiled steps, cached (paths are almost always literals).
  @transient private lazy val pathCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Seq[Step]]]()

  override def nullSafeEval(json: Any, path: Any): Any = {
    val steps = pathCache.computeIfAbsent(
      path.asInstanceOf[UTF8String].toString, p => parsePath(p))
    steps match {
      case None => null
      case Some(st) =>
        val node =
          try mapper.readTree(json.asInstanceOf[UTF8String].toString)
          catch { case _: Exception => return null }
        if (node == null) return null
        val matches = new java.util.ArrayList[JsonNode]()
        evaluate(node, st, matches)
        if (couldReturnMany(st)) {
          val arr = mapper.createArrayNode()
          matches.forEach(m => { arr.add(m); () })
          UTF8String.fromString(arr.toString)
        } else if (matches.isEmpty) null
        else UTF8String.fromString(matches.get(0).toString)
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `json_unquote(json)` — reference json_unquote.rs:11-29: a top-level
  * JSON string unquotes to its text; anything else renders as JSON.
  */
case class JsonUnquote(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_unquote"

  override def nullSafeEval(json: Any): Any = {
    val text = json.asInstanceOf[UTF8String].toString
    val node =
      try JsonPathMysql.mapper.readTree(text)
      catch { case _: Exception => return UTF8String.fromString(text) }
    if (node == null) return null
    node match {
      case t: TextNode => UTF8String.fromString(t.textValue())
      case other => UTF8String.fromString(other.toString)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Session registration + Column API for the custom expressions. Spark 4
  * removed the public Column-from-Expression constructor, so the Column
  * surface goes through the function registry + call_function.
  */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.{call_function, lit}

  // function registries already filled, by identity; weak, so a dropped
  // session's registry is collected. A session's set-up reaches register
  // from Engine.build, new GraftSession and Engine.registerAll, and each
  // repeat would replace every function (and log each replacement).
  private val filled = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  /** Register every custom function in `spark`'s session; a no-op for a
    * session whose registry this already filled. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    filled.synchronized {
      if (!filled.contains(reg)) { fill(reg); filled.add(reg) }
    }
  }

  private def fill(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit = {
    reg.createOrReplaceTempFunction(
      "json_extract_mysql", exprs => JsonExtractMysql(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "json_unquote", exprs => JsonUnquote(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "rolling_hash64", exprs => RollingHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash60", exprs => SimHash60(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash64", exprs => MinHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "hyperplane_sig", exprs => HyperplaneSig(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "jaccard_sorted", exprs => JaccardSorted(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "containment_stats", exprs => ContainmentStats(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "containment_stats64", exprs => ContainmentStats64(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "argmax_dot", exprs => ArgmaxDot(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "zorder64", exprs => ZOrder64(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "quant_stats", exprs => QuantStats(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "rep_stats", exprs => RepStats(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "text_stats", exprs => TextStats(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "winnow_anchors", exprs => WinnowAnchors.build(exprs), "built-in")
    reg.createOrReplaceTempFunction(
      "rproj_i64", exprs => RProjI64(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_i64", exprs => DotI64(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "word_ngrams", exprs => WordNgrams.build(exprs), "built-in")
    reg.createOrReplaceTempFunction(
      "word_ngram_tfs", exprs => WordNgramTfs.build(exprs), "built-in")
    reg.createOrReplaceTempFunction(
      "pq_encode", exprs => PqEncode.build(exprs), "built-in")
    reg.createOrReplaceTempFunction(
      "pq_adc", exprs => PqAdc.build(exprs), "built-in")
    GraftFunctions.referenceNames.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** The reference's callable registry names (tests/show/functions.rs)
    * that Spark doesn't already provide: the missing `to_*` casts (CAST
    * semantics under ansi=false — parse failure → NULL, like to_int.rs)
    * and the is-predicate function forms. Spark's own to_date /
    * to_timestamp / to_json / isnull builtins stay untouched — their
    * single-arg behavior covers the reference forms, and overriding
    * to_json would break Spark's struct→json serialization direction.
    * JSONPATH is STRING-typed here (SURVEY §1.5), so its cast is a text
    * cast. Divergence note: user-called `to_decimal(x)` targets the
    * reference's max DECIMAL(28,14) — the reference infers per-source
    * precision/scale, so printed trailing scale can differ.
    */
  private[functions] val referenceNames: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, Literal, Not}
    import org.apache.spark.sql.types._
    def cast(t: DataType): Seq[Expression] => Expression = exprs => Cast(exprs.head, t)
    Seq(
      ("to_int", cast(IntegerType)),
      ("to_bigint", cast(LongType)),
      ("to_bool", cast(BooleanType)),
      ("to_text", cast(StringType)),
      ("to_jsonpath", cast(StringType)),
      ("to_decimal", cast(DecimalType(28, 14))),
      ("istrue", exprs => Coalesce(Seq(Cast(exprs.head, BooleanType), Literal(false)))),
      ("isfalse", exprs => Coalesce(Seq(Not(Cast(exprs.head, BooleanType)), Literal(false)))),
      // the reference's own names for Spark's typeof / current_database
      ("type_of", exprs =>
        new org.apache.spark.sql.catalyst.expressions.TypeOf(exprs.head)),
      ("database", _ =>
        new org.apache.spark.sql.catalyst.expressions.CurrentDatabase()))
  }

  /** `->`: json-context extraction (wildcards wrap in an array). */
  def jsonExtract(json: Column, path: String): Column =
    call_function("json_extract_mysql", json, lit(path))

  /** `->>` ≡ json_unquote(json_extract(..)) — the compound the reference
    * expands at compile time (json_extract_unquote.rs:11-23). */
  def jsonExtractUnquote(json: Column, path: String): Column =
    call_function("json_unquote", call_function("json_extract_mysql", json, lit(path)))

  def rollingHash64(c: Column): Column = call_function("rolling_hash64", c)
}
