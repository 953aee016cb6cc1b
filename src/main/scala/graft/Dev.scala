package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev CLI over the census keys (`SparkEntry.queries`; `names` is a
  * comma-separated list):
  *
  *   runMain graft.Dev time <sfDir> <names> [n] [cores] [cell|clear|keep]
  *   runMain graft.Dev plan <sfDir> <names|all> [outDir [suffix]]
  *
  * `time` runs each named query n times (default 3) into the noop sink in
  * ONE fresh `local[cores]` session (default 32) and prints every pass —
  * pass 1 pays cache builds, later passes are the steady-state floor
  * Bench's best-of-N reports. When a bench cell number looks off, the
  * question is whether the warm floor moved, not what the min of two
  * contended samples says. The last argument picks the cache discipline:
  * `cell` (default) is exactly a Bench cell's — swap caches released and
  * the heap collected between QUERIES, kept across one query's passes;
  * `clear` releases between every pass (per-pass rebuild cost); `keep`
  * never releases (the all-caches-resident floor). Every mode collects the
  * heap between passes: that lets the ContextCleaner drop the previous
  * pass's shuffle files, which a big query's passes would otherwise pile
  * up until the disk fills.
  *
  * `plan` renders each query's formatted physical plan — to stdout, or to
  * `<outDir>/<name>_<suffix>.txt` (suffix defaults to `before`) when an
  * outDir is given; `all` takes every census key. Building a plan runs
  * whatever the query does while CONSTRUCTING its DataFrame (the
  * *_indexed compositions write their index here) but never executes the
  * final plan, so the output records plan shape (Exchange count, join
  * strategy, PushedFilters/ReadSchema), not timings. A key that fails is
  * reported and the rest still run. */
object Dev {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("time", dir, names, rest @ _*) =>
      time(dir, names.split(",").toSeq, rest.lift(0).fold(3)(_.toInt),
        rest.lift(1).fold(32)(_.toInt), rest.lift(2).getOrElse("cell"))
    case Seq("plan", dir, names, rest @ _*) =>
      plan(dir, if (names == "all") SparkEntry.queries.keys.toSeq.sorted else names.split(",").toSeq,
        rest.lift(0), rest.lift(1).getOrElse("before"))
    case _ =>
      System.err.println("usage: graft.Dev time <sfDir> <names> [n] [cores] [cell|clear|keep]\n" +
        "       graft.Dev plan <sfDir> <names|all> [outDir [suffix]]")
      sys.exit(2)
  }

  private def query(name: String) =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))

  private def time(dir: String, names: Seq[String], n: Int, cores: Int, mode: String): Unit = {
    require(Set("cell", "clear", "keep")(mode), s"unknown cache mode: $mode")
    val spark = Engine.build(master = s"local[$cores]", shufflePartitions = cores)
    try names.foreach { name =>
      val q = query(name)
      (1 to n).foreach { i =>
        val sec = Timing.seconds(Timing.sink(q(spark, dir)))
        println(f"[dev] $name pass $i: $sec%.2fs")
        if (mode == "clear") Engine.clearSwapCaches(spark)
        System.gc()
      }
      if (mode == "cell") { Engine.clearSwapCaches(spark); System.gc() }
    } finally spark.stop()
  }

  private def plan(dir: String, names: Seq[String], outDir: Option[String],
      suffix: String): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = Engine.build()
    try names.foreach { name =>
      try {
        val txt = query(name)(spark, dir).queryExecution.explainString(FormattedMode)
        outDir match {
          case Some(d) =>
            Files.write(Paths.get(d, s"${name}_$suffix.txt"), txt.getBytes(UTF_8))
            println(s"[dev] $name ok (${txt.linesIterator.count(_.contains("Exchange"))} Exchange refs)")
          case None =>
            println(s"===== $name =====")
            println(txt)
        }
      } catch { case e: Throwable =>
        // nextOption: an empty rendered exception must not throw
        // NoSuchElementException and mask the original failure (ADVICE r14)
        println(s"[dev] $name FAILED: " +
          e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName).take(160))
      }
      Engine.clearSwapCaches(spark)
    } finally spark.stop()
  }
}
