package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Monotonic, merge-per-CELL persistence for the committed bench artifact
  * (`bench/BENCH_LOCAL.json`) — VERDICT r11 #1, tightened per VERDICT
  * r12 #2.
  *
  * The failure this prevents happened twice: an end-of-round run that
  * measured FEWER tiers (or measured them on a contended machine)
  * rewrote the whole artifact and destroyed the complete, clean-cal
  * evidence a previous run had committed. r11's fix merged per TIER with
  * a 2× cal bound — which still let a tier-level replacement carry
  * individually contended cells in (r12's driver run replaced sf1 at cal
  * 0.374 with most cells slower, and the new sf10 section carried
  * cellcal-0.42 outlier cells the per-cell stamps self-identified but
  * the merge rule never used). Writes now go through [[merge]]:
  *
  *   - a tier section present in the OLD artifact but absent from the
  *     new run is carried forward verbatim — an interrupted or partial
  *     run can never delete measured evidence;
  *   - a tier section present in BOTH merges CELL BY CELL: each cell
  *     keeps the FASTER of its committed and fresh measurements (with
  *     the winning side's `cellcal` stamp riding along). Contention can
  *     only inflate a wall-clock time, never deflate it, so min-over-runs
  *     converges monotonically on each cell's true floor and a contended
  *     driver run can only ADD evidence — its slower cells all lose. The
  *     tier's `total`/`value` and `floor` list are recomputed from the
  *     merged cells; its `cal` keeps the min (best-machine metadata).
  *     If a cell's SEMANTICS change (a census key redefined), delete
  *     that cell from the artifact once — the merge compares what's on
  *     disk, nothing else;
  *   - non-tier object sections (evidence extras without a `queries`
  *     group — the nProbe sweeps, refresh-economics cells, funnel
  *     counts) merge per LEAF (VERDICT r13 #2: the r11 cal-bound rule
  *     replaced these wholesale, and the sweep sections carry no `cal`
  *     at all, so a contended run regressed `ann_nprobe_sweep_sf1`
  *     p2/p4 by ~5× in the committed artifact). Timing leaves (`sec`,
  *     the refresh-phase names, `cal`) keep the MINIMUM — wall-clock
  *     only ever inflates under contention; deterministic leaves
  *     (recall, funnel counts) take the fresh run's value; leaves the
  *     new run didn't measure are carried forward;
  *   - `errors` always reflects the CURRENT run (stale error text from
  *     a kept tier would be misattributed).
  *
  * The sf0.1 headline lives INLINE at the artifact's top level (the
  * shape every prior round's reader knows), so it is treated as one
  * pseudo-section merged by the same cell rule.
  *
  * Jackson (on the Spark classpath) does the parsing; Bench still
  * assembles its sections as strings — merge happens at write time on
  * the parsed trees, so a kept cell survives byte-for-byte.
  */
object BenchArtifact {
  private val mapper = new ObjectMapper()

  /** Top-level keys that together form the inline sf0.1 headline
    * section. `metric` is the fixed format marker and never moves. */
  private val headlineKeys =
    Seq("value", "unit", "cal", "queries", "pipeline", "floor",
      "scaling", "cellcal", "sf")

  private val fixedKeys = headlineKeys ++ Seq("metric", "errors")

  def parse(s: String): Option[ObjectNode] =
    try {
      mapper.readTree(s) match {
        case o: ObjectNode => Some(o)
        case _ => None
      }
    } catch { case _: com.fasterxml.jackson.core.JsonProcessingException => None }

  private def calOf(n: JsonNode): Option[Double] =
    Option(n.get("cal")).filter(_.isNumber).map(_.asDouble)

  /** Leaf keys of evidence-extras sections that are WALL-CLOCK timings —
    * min-merged across runs (contention can only inflate them). Every
    * other leaf (recall, funnel counts) is deterministic and takes the
    * fresh run's value. `cal` rides along as best-machine metadata. */
  private val timingLeaves = Set("sec", "cal", "build", "retract", "append",
    "probe", "init", "refresh", "recompute", "rebuild", "compact", "write",
    "probe_composed", "probe_compacted", "base_sf01", "base_sf1")

  /** Per-leaf merge of one evidence-extras section pair: recurse into
    * nested objects, min-merge timing leaves, carry forward leaves the
    * new run didn't measure, let fresh deterministic leaves win.
    * Mutates `neu` in place. */
  private def mergeExtras(neu: ObjectNode, old: ObjectNode, label: String,
      log: String => Unit): Unit = {
    val it = old.fields()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      (Option(neu.get(k)), e.getValue) match {
        case (None, ov) =>
          neu.set[JsonNode](k, ov); () // carry a leaf the new run lacks
        case (Some(nv: ObjectNode), ov: ObjectNode) =>
          mergeExtras(nv, ov, s"$label/$k", log)
        case (Some(nv), ov) if timingLeaves.contains(k) &&
            nv.isNumber && ov.isNumber && ov.asDouble < nv.asDouble =>
          log(s"[bench] merge: $label/$k keeps committed " +
            s"${ov.asDouble} over fresh ${nv.asDouble}")
          neu.set[JsonNode](k, ov); ()
        case _ => // deterministic leaf: the fresh measurement stands
      }
    }
  }

  /** Per-cell merge of one section pair: every numeric cell in the
    * `queries`/`pipeline` groups (and `scaling.queries`) keeps the
    * faster measurement, with the winner's cellcal stamp. Recomputes the
    * section's total field (`totalKey`) from the merged `queries` group,
    * the `floor` list from merged cells vs their stamps, and keeps the
    * min `cal`. Mutates `neu` in place. */
  private def mergeSection(neu: ObjectNode, old: ObjectNode,
      label: String, totalKey: String, log: String => Unit): Unit = {
    def group(root: ObjectNode, g: String): Option[ObjectNode] =
      Option(root.get(g)).collect { case o: ObjectNode => o }

    def mergeCells(g: String, neuIn: ObjectNode, oldIn: ObjectNode): Unit =
      (group(neuIn, g), group(oldIn, g)) match {
        case (Some(ng), Some(og)) =>
          val ncc = group(neuIn, "cellcal")
          val occ = group(oldIn, "cellcal")
          val it = og.fields()
          while (it.hasNext) {
            val e = it.next()
            val k = e.getKey
            val oldKept =
              if (!ng.has(k)) true // carry a cell the new run didn't measure
              else e.getValue.isNumber && ng.get(k).isNumber &&
                e.getValue.asDouble < ng.get(k).asDouble
            if (oldKept) {
              if (ng.has(k) && ng.get(k).isNumber)
                log(s"[bench] merge: $label/$g/$k keeps committed " +
                  s"${e.getValue.asDouble} over fresh ${ng.get(k).asDouble}")
              ng.set[JsonNode](k, e.getValue)
              (ncc, occ) match {
                case (Some(nc), Some(oc)) if oc.has(k) => nc.set[JsonNode](k, oc.get(k))
                case (Some(nc), _) => val _ = nc.remove(k) // stamp no longer describes the kept time
                case _ =>
              }
            }
          }
        case (None, Some(og)) => neuIn.set[JsonNode](g, og); ()
        case _ =>
      }

    mergeCells("queries", neu, old)
    mergeCells("pipeline", neu, old)
    (group(neu, "scaling"), group(old, "scaling")) match {
      case (Some(ns), Some(os)) => mergeCells("queries", ns, os)
      case (None, Some(os)) => neu.set[JsonNode]("scaling", os); ()
      case _ =>
    }

    // cal: keep the best machine constant seen (metadata for readers;
    // per-cell stamps carry the per-measurement truth)
    (calOf(neu), calOf(old)) match {
      case (Some(nc), Some(oc)) if oc < nc =>
        neu.put("cal", math.rint(oc * 1000) / 1000); ()
      case _ =>
    }

    // total/value: the sum of the merged queries cells
    group(neu, "queries").foreach { qg =>
      var sum = 0.0
      val it = qg.fields()
      while (it.hasNext) { val e = it.next(); if (e.getValue.isNumber) sum += e.getValue.asDouble }
      neu.put(totalKey, math.rint(sum * 1000) / 1000); ()
    }

    // floor: recomputed — a merged cell is a scheduler-overhead floor iff
    // its (kept) time is under 10× its own stamp, falling back to the
    // section cal (same 10× rule Bench.floorJson applies at write time)
    val cal = calOf(neu)
    val cc = group(neu, "cellcal")
    val floors = mapper.createArrayNode()
    Seq("queries", "pipeline").foreach { g =>
      group(neu, g).foreach { gg =>
        val it = gg.fields()
        while (it.hasNext) {
          val e = it.next()
          val stamp = cc.flatMap(c => Option(c.get(e.getKey)).filter(_.isNumber).map(_.asDouble))
            .orElse(cal)
          if (e.getValue.isNumber && stamp.exists(s => e.getValue.asDouble < 10 * s))
            floors.add(e.getKey)
        }
      }
    }
    if (neu.has("floor")) { neu.set[JsonNode]("floor", floors); () }
  }

  /** Merge the assembled new-run artifact over the previously committed
    * one. `newJson` must be the complete single-object artifact the run
    * has measured SO FAR (Bench calls this after every tier). Returns
    * the JSON to persist. */
  def merge(oldJson: Option[String], newJson: String,
      log: String => Unit = _ => ()): String = {
    val neuOpt = parse(newJson)
    val oldOpt = oldJson.flatMap(parse)
    if (neuOpt.isEmpty || oldOpt.isEmpty) return newJson
    val neu = neuOpt.get
    val old = oldOpt.get

    // inline sf0.1 headline: absent from the new run → carried forward
    // wholesale; present in both → per-cell merge on the top-level nodes
    val neuHas = neu.has("cal") && neu.has("queries")
    val oldHas = old.has("cal") && old.has("queries")
    if (oldHas && !neuHas) {
      headlineKeys.foreach { k =>
        if (old.has(k)) neu.set[JsonNode](k, old.get(k))
        else { val _ = neu.remove(k) }
      }
    } else if (oldHas && neuHas) {
      mergeSection(neu, old, "sf0.1", totalKey = "value", log)
    }

    // named sections: tier objects (they carry a queries group) merge per
    // cell; evidence extras keep the r11 cal-bound rule; anything the new
    // run lacks is carried forward
    val names = old.fieldNames()
    while (names.hasNext) {
      val k = names.next()
      if (!fixedKeys.contains(k)) {
        if (!neu.has(k)) {
          log(s"[bench] merge: carrying $k forward from prior artifact")
          neu.set[JsonNode](k, old.get(k))
        } else (neu.get(k), old.get(k)) match {
          case (n: ObjectNode, o: ObjectNode) if n.has("queries") && o.has("queries") =>
            mergeSection(n, o, k, totalKey = "total", log)
          case (n: ObjectNode, o: ObjectNode) =>
            mergeExtras(n, o, k, log)
          case _ =>
        }
      }
    }
    neu.toString
  }

  /** The committed per-cell seconds of one tier section — `"sf0.1"`
    * reads the inline headline, any other name a top-level object —
    * flattened over its `queries` and `pipeline` groups. Feeds the
    * outlier-retry rule. */
  def cellValues(artifact: Option[ObjectNode], tier: String): Map[String, Double] =
    artifact.flatMap { root =>
      val sec =
        if (tier == "sf0.1") Some(root: JsonNode)
        else Option(root.get(tier)).filter(_.isObject)
      sec.map { s =>
        Seq("queries", "pipeline").flatMap(g => numFields(s.get(g))).toMap
      }
    }.getOrElse(Map.empty)

  /** The committed low-core scaling cells of a tier (`scaling.queries`). */
  def scalingValues(artifact: Option[ObjectNode], tier: String): Map[String, Double] =
    artifact.flatMap { root =>
      val sec =
        if (tier == "sf0.1") Some(root: JsonNode)
        else Option(root.get(tier)).filter(_.isObject)
      sec.map(s => numFields(Option(s.get("scaling")).map(_.get("queries")).orNull).toMap)
    }.getOrElse(Map.empty)

  private def numFields(n: JsonNode): Seq[(String, Double)] =
    if (n == null || !n.isObject) Nil
    else {
      val b = Seq.newBuilder[(String, Double)]
      val it = n.fields()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNumber) b += (e.getKey -> e.getValue.asDouble)
      }
      b.result()
    }

  /** The self-adjudication rule for the recurring "driver artifact vs
    * warm floor" outlier class (r9 minhash, r10 tfidf, r11 minhash/q10):
    * a cell whose fresh best-of-n lands over `factor`× its previously
    * COMMITTED value is suspect — contention, not plan cost — and earns
    * one extra attempt. The absolute floor keeps sub-second cells (where
    * 3× is scheduler noise, not an outlier) out of the retry path. */
  def needsRetry(name: String, measured: Double, prev: Map[String, Double],
      factor: Double = 3.0, floorSec: Double = 1.0): Boolean =
    measured > floorSec && prev.get(name).exists(p => measured > factor * p)
}
