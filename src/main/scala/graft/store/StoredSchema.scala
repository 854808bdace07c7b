package graft.store

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet reads of graft's own stores without Spark's schema-inference
  * job. A plain `spark.read.parquet` with no schema runs a one-task job
  * to read a footer; every file graft writes through Spark already
  * carries its Spark schema in the footer's key-value metadata, so the
  * driver reads that one key itself and hands the schema to the reader.
  *
  * The schema is the one Spark's inference would pick (without schema
  * merging, Spark reads one footer: the first data file of the first
  * root path that holds one). Anything this shortcut cannot vouch for
  * falls back to Spark's own inference, unchanged:
  *   - a partitioned dir (a `k=v` subdir), whose partition columns only
  *     the file index infers;
  *   - a file without the Spark schema key (written by another engine);
  *   - no data file at all (Spark's own error is the right one);
  *   - `spark.sql.parquet.mergeSchema` switched on.
  */
private[graft] object StoredSchema {

  /** The footer key Spark's parquet writer stores its row schema under. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def visible(name: String) = !name.startsWith("_") && !name.startsWith(".")

  /** The Spark schema of a parquet scan over `dirs`, read on the driver
    * from one footer; None where Spark's inference must run instead.
    */
  def of(spark: SparkSession, dirs: Seq[String]): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val listed = dirs.iterator.map { d =>
        val p = new Path(d)
        val fs = p.getFileSystem(conf)
        Try(fs.getFileStatus(p)).toOption.filter(_.isDirectory)
          .map(_ => fs.listStatus(p).toSeq.filter(s => visible(s.getPath.getName)))
          .getOrElse(Seq.empty)
      }
      listed.find(_.nonEmpty).flatMap { children =>
        val files = children.filter(_.isFile).map(_.getPath).sortBy(_.getName)
        if (children.exists(s => s.isDirectory && s.getPath.getName.contains("="))) None
        else files.headOption.flatMap(f => footerSchema(f, conf))
      }
    }

  private def footerSchema(file: Path,
                           conf: org.apache.hadoop.conf.Configuration): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val json = try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally reader.close()
    json.flatMap(j => Try(DataType.fromJson(j)).toOption).collect { case s: StructType => s }
  }

  /** `spark.read.parquet(dirs)` with the schema [[of]] reads, else with
    * Spark's inference.
    */
  def readParquet(spark: SparkSession, dirs: String*): DataFrame =
    of(spark, dirs) match {
      case Some(schema) => spark.read.schema(schema).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }
}
