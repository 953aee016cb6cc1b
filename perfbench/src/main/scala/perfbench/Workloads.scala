package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, expr, sum}

import graft.{Engine, QueryDef, SparkEntry}
import graft.ivm.IncrementalAggView
import graft.sources.MultisetStore
import graft.sql.GraftSession

/** A workload: a set-up that reaches the initial state, and one round of
  * the fixed script that starts from that state and leaves it ready for
  * the next round. */
trait Workload {
  def setup(): Unit
  def round(): Unit
  /** Untimed work before timing starts: by default `n` whole rounds. */
  def warmup(n: Int): Unit = for (_ <- 0 until n) round()
}

/** INSERT / DELETE / aggregate read on a multiset table, with an
  * incremental aggregate view fed the same signed batches.
  *
  * Set-up builds the initial state (the initial slice, the view over it)
  * through the same INSERT and view code the steps use. Warm-up runs the
  * script's first steps on a scratch table and a scratch view, which it
  * then drops, so the timed round starts warm and from the set-up's
  * state. Later rounds rebuild the initial state first, untimed, so every
  * round runs the same steps from the same state. */
final class MultisetDml(ctx: Ctx) extends Workload {
  private val p = ctx.plan
  private val keys = p.get("view_keys").elements.asScala.map(_.asText).toSeq
  private val sums = p.get("view_sums").elements.asScala.map(_.asText).toSeq
  private val steps = p.get("steps").elements.asScala
    .map(s => (s.get("insert").asText, s.get("delete").asText)).toSeq
  private val table = p.get("table").asText
  private val ddl = p.get("column_ddl").asText
  private val initial = p.get("initial").asText
  private val cols = p.get("columns").asText
  private val readSql = p.get("read").asText
  private val freq = MultisetStore.freqCol
  private val viewDir = s"${ctx.workDir}/view"
  private var session: GraftSession = _
  private var view: IncrementalAggView = _
  private var fresh = false

  private def pathOf(t: String) = s"${ctx.workDir}/multisets/default.$t"
  private val path = pathOf(table)

  def setup(): Unit = {
    ctx.buildSpark()
    session = ctx.newSession()
    ctx.registerAll()
    view = create(table, viewDir)
  }

  /** (Re)create table `t` holding the initial slice, and its view in `dir`. */
  private def create(t: String, dir: String): IncrementalAggView = {
    session.sql(s"DROP TABLE IF EXISTS $t")
    session.sql(s"CREATE MULTISET TABLE $t ($ddl)")
    session.sql(s"INSERT INTO $t SELECT $cols FROM lineitem WHERE $initial")
    Disk.delete(dir)
    val v = new IncrementalAggView(ctx.spark, keys, sums, dir)
    ctx.tracer.span("ivm.initialize")(
      v.initialize(MultisetStore.snapshot(ctx.spark, pathOf(t)).select((keys ++ sums :+ freq).map(col): _*)))
    v
  }

  private def step(t: String, v: IncrementalAggView, ins: String, del: String): Unit = {
    val spark = ctx.spark
    ctx.writeOp("insert")(ctx.tracer.span("sql.call")(
      session.sql(s"INSERT INTO $t SELECT $cols FROM lineitem WHERE $ins")))
    // the step's signed batch: the inserted slice at +1, and every tuple
    // the DELETE is about to remove at minus its current frequency
    val added = spark.sql(s"SELECT ${(keys ++ sums).mkString(", ")}, CAST(1 AS BIGINT) AS $freq " +
      s"FROM lineitem WHERE $ins")
    val before = ctx.tracer.span("sources.snapshot_plan")(MultisetStore.snapshot(spark, pathOf(t)))
    val removed = before.where(expr(del)).select((keys ++ sums).map(col) :+ (-col(freq)).as(freq): _*)
    ctx.writeOp("delete")(ctx.tracer.span("sql.call")(session.sql(s"DELETE FROM $t WHERE $del")))
    ctx.readOp("read")(session.sql(readSql.replace("{table}", t)))
    ctx.writeOp("ivm_apply")(ctx.tracer.span("ivm.apply")(v.applyDelta(added.unionByName(removed))))
    ctx.readOp("ivm_read", "ivm.current", "ivm.fetch")(v.current())
  }

  /** The first `n` steps of the script on a scratch table and view, which
    * are dropped afterwards. */
  override def warmup(n: Int): Unit = {
    val (t, dir) = (s"${table}_warmup", s"${ctx.workDir}/view_warmup")
    val v = create(t, dir)
    steps.take(n).foreach { case (ins, del) => step(t, v, ins, del) }
    session.sql(s"DROP TABLE $t")
    Disk.delete(dir)
    fresh = true
  }

  def round(): Unit = {
    if (!fresh) ctx.untimed { view = create(table, viewDir) }
    fresh = false
    steps.foreach { case (ins, del) => step(table, view, ins, del) }
    ctx.untimed(roundEnd())
  }

  /** The table's contents and the storage figures at the end of a round. */
  private def roundEnd(): Unit = {
    val snap = MultisetStore.snapshot(ctx.spark, path).where(col(freq) =!= 0)
    val rows = snap.collect()
    val live = snap.where(col(freq) > 0).agg(sum(col(freq))).first().getLong(0)
    val versions = MultisetStore.versions(path)
    val snapshots = versions.count(v =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/v$v/_DELTA")))
    val tableBytes = Disk.bytes(path)
    val viewBytes = Disk.bytes(viewDir)
    ctx.roundEnd(Map(
      "contents" -> ctx.output("contents", rows),
      "live_rows" -> live,
      "storage_bytes" -> (tableBytes + viewBytes),
      "chain_versions" -> versions.size,
      // v0 is the empty snapshot CREATE writes; every later one is a compaction
      "compactions" -> math.max(0, snapshots - 1),
      "table_bytes" -> tableBytes,
      "view_bytes" -> viewBytes))
  }
}

/** Operator-library queries over documents/embeddings through QueryDef.run,
  * each starting from cleared swap caches, in an order the seed picks. */
final class CorpusOps(ctx: Ctx) extends Workload {
  private val defs: Seq[QueryDef] = {
    val byName = SparkEntry.allDefs.map(d => d.name -> d).toMap
    ctx.plan.get("ops").elements.asScala.map(n => byName(n.asText)).toSeq
  }

  def setup(): Unit = {
    ctx.buildSpark()
    ctx.registerAll()
  }

  def round(): Unit = defs.foreach { d =>
    Engine.clearSwapCaches(ctx.spark)
    ctx.readOp(d.name, "queries.build", "queries.exec")(d.run(ctx.spark, ctx.dataDir))
  }
}
