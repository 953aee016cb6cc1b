package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** Read parquet planned from a schema read off a footer in the driver
  * instead of one inferred from the data — the catalog contract of the
  * reference, where a table's columns are declared once and kept, never
  * re-derived per query (catalog/src/lib.rs:15-27).
  *
  * `spark.read.parquet(dir)` with no schema launches a Spark job to read
  * a footer every time a plan is built. One footer read in the driver
  * gives the same schema with no job. Nothing is cached between calls: a
  * DROP and CREATE, or a second session, may put a different schema at
  * the same path.
  *
  * Two entry points, one footer reader:
  *   - [[schema]] / [[read]], for directories of engine-written state:
  *     every part file Spark writes carries the writer's Spark schema as
  *     JSON under [[rowMetadataKey]], and a footer without it raises;
  *   - [[input]], for an input file or directory of part files from any
  *     writer: the same precedence as Spark's own
  *     `ParquetFileFormat.readSchemaFromFooter` — [[rowMetadataKey]] when
  *     the footer has it, else the parquet schema converted under the
  *     session's parquet conf.
  * A directory may be partitioned into `k=v` subdirectories: the footer
  * is read from the first part file below them, and Spark's partition
  * discovery adds the partition columns, as it does without a schema.
  * There is no fallback to inference: a path with no part file raises an
  * error naming it. */
object StoredParquet {

  val rowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema stored in the footer of `dir`'s first part file. */
  def schema(spark: SparkSession, dir: String): StructType = {
    val (file, meta) = footer(spark, dir)
    sparkSchema(file, meta).getOrElse(
      throw new IllegalStateException(s"parquet footer of $file has no $rowMetadataKey"))
  }

  /** One scan over `dirs`, all of which hold the schema of the first. */
  def read(spark: SparkSession, dirs: String*): DataFrame = {
    require(dirs.nonEmpty, "StoredParquet.read needs at least one directory")
    spark.read.schema(schema(spark, dirs.head)).parquet(dirs: _*)
  }

  /** One scan over the input `path` — a parquet file, or a directory of
    * part files sharing the first one's schema — planned from its footer. */
  def input(spark: SparkSession, path: String): DataFrame = {
    val (file, meta) = footer(spark, path)
    val s = sparkSchema(file, meta).getOrElse(
      new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    spark.read.schema(s).parquet(path)
  }

  /** The footer metadata of `path` itself when it is a file, else of its
    * first part file by name, looking into `k=v` partition directories
    * when `path` holds no part file itself. */
  private def footer(spark: SparkSession, path: String): (Path, FileMetaData) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def firstPart(dir: Path): Option[Path] = {
      val entries =
        try fs.listStatus(dir).filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }.sortBy(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      val (files, dirs) = entries.partition(_.isFile)
      files.headOption.map(_.getPath).orElse(dirs.iterator
        .filter(_.getPath.getName.contains('=')).flatMap(d => firstPart(d.getPath)).nextOption())
    }
    val first = firstPart(root).getOrElse(
      throw new IllegalStateException(s"no parquet part file in $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
    try (first, reader.getFooter.getFileMetaData)
    finally reader.close()
  }

  private def sparkSchema(file: Path, meta: FileMetaData): Option[StructType] =
    Option(meta.getKeyValueMetaData.get(rowMetadataKey)).map { json =>
      DataType.fromJson(json) match {
        case s: StructType => s
        case other => throw new IllegalStateException(
          s"$rowMetadataKey of $file is not a struct: ${other.simpleString}")
      }
    }
}
