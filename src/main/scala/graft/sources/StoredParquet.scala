package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Read back parquet this engine wrote, planned from the schema the
  * writer stored instead of one inferred from the data — the catalog
  * contract of the reference, where a table's columns are declared once
  * and kept, never re-derived per query (catalog/src/lib.rs:15-27).
  *
  * `spark.read.parquet(dir)` with no schema launches a Spark job to read
  * a footer every time a plan is built. Every part file Spark writes
  * carries the writer's Spark schema as JSON under [[rowMetadataKey]] —
  * the key Spark's own inference prefers over converting the parquet
  * schema — so one footer read in the driver gives the same schema with
  * no job. Nothing is cached between calls: a DROP and CREATE, or a
  * second session, may put a different schema at the same path.
  *
  * Only for directories of engine-written state. There is no fallback to
  * inference: a directory with no part file, or a footer without the
  * key, raises an error naming the path. */
object StoredParquet {

  val rowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema stored in the footer of `dir`'s first part file. */
  def schema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val parts =
      try fs.listStatus(root).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      } catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    val first = parts.map(_.getPath).sortBy(_.getName).headOption.getOrElse(
      throw new IllegalStateException(s"no parquet part file in $dir"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    val json =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(rowMetadataKey)
      finally reader.close()
    if (json == null)
      throw new IllegalStateException(s"parquet footer of $first has no $rowMetadataKey")
    DataType.fromJson(json) match {
      case s: StructType => s
      case other => throw new IllegalStateException(
        s"$rowMetadataKey of $first is not a struct: ${other.simpleString}")
    }
  }

  /** One scan over `dirs`, all of which hold the schema of the first. */
  def read(spark: SparkSession, dirs: String*): DataFrame = {
    require(dirs.nonEmpty, "StoredParquet.read needs at least one directory")
    spark.read.schema(schema(spark, dirs.head)).parquet(dirs: _*)
  }
}
