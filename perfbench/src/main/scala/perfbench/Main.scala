package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, SparkEntry}
import graft.sql.GraftSession

/** One benchmark run in one JVM.
  *
  *   Main <plan.json> <result.json>   run the plan run.py wrote
  *   Main oracles <names> <out.json>  write the DuckDB oracle SQL of the
  *                                    named operator-library queries
  *
  * The plan fixes the workload's whole script; this side only executes
  * it, times it and records every answer. Checking happens in run.py,
  * after this JVM has exited.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args match {
    case Array("oracles", names, out) =>
      val byName = SparkEntry.allDefs.map(d => d.name -> d).toMap
      val m = names.split(',').map(n => n -> byName(n).oracle.getOrElse(
        throw new IllegalArgumentException(s"$n has no oracle SQL"))).toMap
      mapper.writeValue(new File(out), m.asJava)
    case Array(planPath, outPath) =>
      val plan = mapper.readTree(new File(planPath))
      val ctx = new Ctx(plan)
      val w: Workload = plan.get("workload").asText match {
        case "multiset_dml" => new MultisetDml(ctx)
        case "corpus_ops"   => new CorpusOps(ctx)
        case other          => throw new IllegalArgumentException(s"unknown workload $other")
      }
      try ctx.execute(w) finally if (ctx.spark != null) ctx.spark.stop()
      mapper.writeValue(new File(outPath), Json.toJava(ctx.result()))
    case _ =>
      System.err.println("usage: Main <plan.json> <result.json> | Main oracles <names> <out.json>")
      sys.exit(2)
  }
}

/** What every workload shares: the session, the op timer, the recorded
  * answers and the layer measurements. */
final class Ctx(val plan: JsonNode) {
  val dataDir: String = plan.get("data_dir").asText
  val workDir: String = plan.get("work_dir").asText
  val slots: Int = plan.get("slots").asInt
  val tracer = new Tracer(plan.get("trace").asBoolean)
  private val listener = if (tracer.enabled) Some(new ExecListener) else None

  var spark: SparkSession = _
  var timed = false
  var round = 0

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val outputs = mutable.LinkedHashMap.empty[String, String]
  private val roundEnds = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var setupS = 0.0
  private var extra = Map.empty[String, Any]
  private var offClockNs = 0L
  private var offClockDepth = 0
  private val mapper = new ObjectMapper()

  def buildSpark(): Unit = {
    spark = tracer.span("engine.build")(
      Engine.build(master = s"local[$slots]", shufflePartitions = slots))
    listener.foreach(spark.sparkContext.addSparkListener)
  }

  def newSession(): GraftSession = tracer.span("sql.session_init")(
    new GraftSession(spark, s"$workDir/views", s"$workDir/multisets"))

  def registerAll(): Unit = tracer.span("engine.register")(Engine.registerAll(spark, dataDir))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // System.nanoTime has an arbitrary origin; this maps epoch time onto it.
  private val wallOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Set-up, warm-up, then whole timed rounds until the run's seconds are
    * spent. Every round runs the same script from the same state. */
  def execute(w: Workload): Unit = {
    // set-up counts from JVM start: class loading is part of it
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L - wallOffset
    w.setup()
    setupS = (System.nanoTime() - t0) / 1e9
    tracer.phase = -1
    w.warmup(plan.get("warmup").asInt)
    timed = true
    val gc0 = gcMs()
    val start = System.nanoTime()
    val off0 = offClockNs
    val deadline = start + (plan.get("seconds").asDouble * 1e9).toLong
    do {
      tracer.phase = round
      w.round()
      round += 1
    } while (System.nanoTime() < deadline)
    val wallS = (System.nanoTime() - start - (offClockNs - off0)) / 1e9
    val gcTimed = gcMs() - gc0
    val heap = retainedHeapMb()
    extra = Map("rounds" -> round, "timed_wall_s" -> wallS, "jvm_gc_ms" -> gcTimed,
      "heap_after_gc_mb" -> heap)
  }

  /** Run benchmark-side work (recording answers and counters, untimed
    * state resets) off the clock: its time is taken out of the timed wall
    * time. Nested calls count once. */
  def offClock[T](body: => T): T = {
    val t = System.nanoTime()
    offClockDepth += 1
    try body
    finally {
      offClockDepth -= 1
      if (offClockDepth == 0) offClockNs += System.nanoTime() - t
    }
  }

  /** Heap in use after full collections, repeated until it stops falling:
    * Spark's cleaner frees broadcast and shuffle state only after a
    * collection has cleared the references that held it. */
  private def retainedHeapMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var (prev, cur, i) = (Double.MaxValue, usedAfterGc(), 0)
    while (prev - cur > 0.1 && i < 10) {
      Thread.sleep(200)
      prev = cur
      cur = usedAfterGc()
      i += 1
    }
    cur
  }

  private def drained(): Map[String, Long] = listener match {
    case Some(l) => BusDrain(spark.sparkContext); l.snapshot()
    case None    => Map.empty
  }

  private def timedOp(kind: String, rw: String)(body: => (Long, Option[DataFrame], Array[Row])): Unit = {
    val before = offClock(drained())
    tracer.opId = ops.length
    var err: String = null
    var result: (Long, Option[DataFrame], Array[Row]) = (0L, None, null)
    try result = tracer.span("op." + kind)(body)
    catch { case e: Exception => err = e.toString }
    tracer.opId = -1
    if (!timed) {
      if (err != null) throw new IllegalStateException(s"warm-up $kind failed: $err")
    } else offClock {
      val counters = mutable.Map.empty[String, Double]
      drained().foreach { case (k, v) => counters(k) = (v - before(k)).toDouble }
      if (tracer.enabled) result._2.foreach { df =>
        df.queryExecution.tracker.phases.foreach { case (p, s) =>
          counters(s"plan.${p}_ms") = s.durationMs.toDouble
        }
      }
      val out = Option(result._3).map(rows => output(kind, rows)).orNull
      ops += Map("round" -> round, "kind" -> kind, "rw" -> rw, "ms" -> result._1 / 1e6,
        "out" -> out, "error" -> err, "counters" -> counters.toMap)
    }
  }

  /** A write: the timed body returns nothing worth checking. */
  def writeOp(kind: String)(body: => Unit): Unit = timedOp(kind, "write") {
    val t = System.nanoTime(); body; (System.nanoTime() - t, None, null)
  }

  /** A read: build the DataFrame (span `callSpan`), collect it (span
    * `fetchSpan`); both are timed, the answer is recorded for checking. */
  def readOp(kind: String, callSpan: String = "sql.call", fetchSpan: String = "sql.fetch")(
      mk: => DataFrame): Unit = timedOp(kind, "read") {
    val t = System.nanoTime()
    val df = tracer.span(callSpan)(mk)
    val rows = tracer.span(fetchSpan)(df.collect())
    (System.nanoTime() - t, Some(df), rows)
  }

  /** Record an answer; identical answers are stored once. Returns its key. */
  def output(kind: String, rows: Array[Row]): String = {
    val body = mapper.writeValueAsString(rows.map(r => Json.row(r)).toSeq.asJava)
    val digest = MessageDigest.getInstance("SHA-256").digest(body.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val key = s"$kind#$digest"
    outputs.getOrElseUpdate(key, body)
    key
  }

  /** Run `body` off the clock as warm-up: its operations are neither
    * timed nor recorded. */
  def untimed(body: => Unit): Unit = offClock {
    val (t, ph) = (timed, tracer.phase)
    timed = false; tracer.phase = -1
    try body finally { timed = t; tracer.phase = ph }
  }

  def roundEnd(m: Map[String, Any]): Unit = roundEnds += m + ("round" -> round)

  def result(): Map[String, Any] = Map(
    "setup_s" -> setupS,
    "ops" -> ops.toSeq,
    "outputs" -> outputs.toMap,
    "round_ends" -> roundEnds.toSeq,
    "spans" -> tracer.spans.map(s =>
      Seq(s.id, s.name, s.op, s.phase, s.parent, s.startNs, s.endNs)).toSeq,
  ) ++ extra
}

object Json {
  /** One value in a tagged text form run.py decodes per tag, so no number
    * passes through a lossy JSON float. */
  def value(v: Any): AnyRef = v match {
    case null                    => null
    case b: java.lang.Boolean    => s"b:$b"
    case x: java.lang.Byte       => s"i:$x"
    case x: java.lang.Short      => s"i:$x"
    case x: java.lang.Integer    => s"i:$x"
    case x: java.lang.Long       => s"i:$x"
    case d: java.lang.Double     => s"d:$d"
    case f: java.lang.Float      => s"f:$f"
    case d: java.math.BigDecimal => s"n:${d.toPlainString}"
    case s: String               => s"s:$s"
    case t: java.time.LocalDateTime => s"t:$t"
    case t: java.sql.Timestamp   => s"t:${t.toLocalDateTime}"
    case d: java.time.LocalDate  => s"t:${d.atStartOfDay}"
    case d: java.sql.Date        => s"t:${d.toLocalDate.atStartOfDay}"
    case s: scala.collection.Seq[_] => s.map(value).asJava
    case r: Row                  => row(r)
    case other                   => s"o:$other"
  }

  def row(r: Row): java.util.List[AnyRef] = r.toSeq.map(value).asJava

  /** Scala maps and sequences → Java collections Jackson writes as JSON. */
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case a: Array[_]                => a.toSeq.map(toJava).asJava
    case x: AnyRef                  => x
    case x                          => x.asInstanceOf[AnyRef]
  }
}

/** On-disk size of a directory tree: every regular file's length. */
object Disk {
  def bytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
