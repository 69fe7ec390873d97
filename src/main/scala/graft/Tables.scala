package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  *
  * All engine operators take `DataFrame => DataFrame`; this is the single
  * scan entry point (SURVEY.md §2.1 S3 — parquet batch scan, cf. reference
  * `Deliverable_3/load_to_silver_layer.py:40-41`). We keep the vectorized
  * parquet reader ON (the reference disabled it to survive dirty bronze
  * schemas — `load_to_silver_layer.py:25`; we fix schemas instead).
  *
  * A load starts no Spark job: the schema is read on the driver from the
  * footer of the table's one parquet file ([[schema]]) and handed to the
  * reader, which otherwise infers it with one job per load.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark reads only as a
    * long under `spark.sql.legacy.parquet.nanosAsLong` — a session
    * setting the session builders (`Harness.session`) own; this loader
    * changes no session config. The long is floored to microseconds:
    * no two test events share a microsecond, and all derived keys are
    * >= second grain. A Spark-written events table (TIMESTAMP_NTZ)
    * already carries a real timestamp and is returned as read. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = schema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** The schema Spark's reader infers for the parquet table at `path`,
    * read on the driver from the footer of its one data file (row groups
    * skipped) through Spark's own footer conversion, so the row-metadata
    * schema key (TIMESTAMP_NTZ) and `nanosAsLong` are honoured; every
    * field nullable, as the reader reports a file's schema. None when
    * `path` holds more than one data file: their schemas may differ, and
    * the reader's inference decides. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val files =
      if (root.isDirectory) fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
      else Seq(root)
    files match {
      case Seq(f) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(Bridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(Bridge.sqlConf(spark)))))
      case _ => None
    }
  }
}
