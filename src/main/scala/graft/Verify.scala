package graft
import graft.sources.StoredParquet
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (dev loops).
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.build(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val (rows, sec) = Timing.measure {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          StoredParquet.read(spark, s"$outDir/$name").count()
        }
        // Vacuous-key guard (VERDICT r12 #1): a 0-row result that is not
        // a documented emptiness contract proves only that both engines
        // agree nothing happened — flag it loudly in the driver log.
        val warn =
          if (rows == 0 && !SparkEntry.emptinessContracts.contains(name))
            " — WARN: 0 rows, NOT an allowlisted emptiness contract (vacuous oracle row)"
          else ""
        System.err.println(f"[verify] $name ok in $sec%.1fs ($rows rows)$warn")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same measurement/memory hygiene as Bench: one query's cached
      // intermediates must not tax the next 130+ queries in this session
      Engine.clearSwapCaches(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
