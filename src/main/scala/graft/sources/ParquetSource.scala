package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet tables read with a declared schema.
  *
  * `spark.read.parquet(dir)` runs one Spark job per table just to infer the
  * schema from the files' footers — on a poll of the 11 OMM tables that is
  * 11 jobs with almost no task time. A declared schema skips the job, but
  * Spark then reads a column missing from the files as NULL, and an empty
  * directory as an empty table, so schema drift would pass silently. The
  * contract is therefore checked here, on the driver and without a Spark
  * job: the directory must hold a data file, and that file's footer must
  * declare every column of the schema with its type. That is the file
  * schema inference reads too: the first data file by name.
  */
object ParquetSource {

  /** Table `name` at `path`, read with `schema`; fails naming the table
    * and the offending column when the data file does not carry it. */
  def table(spark: SparkSession, name: String, path: String,
            schema: StructType): DataFrame = {
    check(spark.sparkContext.hadoopConfiguration, name, path, schema)
    spark.read.schema(schema).parquet(path)
  }

  private def check(conf: Configuration, table: String, path: String,
                    schema: StructType): Unit = {
    def fail(msg: String): Nothing =
      throw new IllegalStateException(s"table $table ($path): $msg")
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) fail("no such directory")
    // Spark's own listing skips these names (metadata, checksums, markers)
    val file = fs.listStatus(dir).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName).headOption
      .getOrElse(fail("no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val found =
      try new ParquetToSparkSchemaConverter(SQLConf.get)
        .convert(reader.getFileMetaData.getSchema)
      finally reader.close()
    val name = file.getPath.getName
    schema.foreach { f =>
      found.find(_.name.equalsIgnoreCase(f.name)) match {
        case None => fail(s"column ${f.name} missing from $name")
        case Some(g) if g.dataType != f.dataType =>
          fail(s"column ${f.name} is ${g.dataType.simpleString} in $name, " +
            s"declared ${f.dataType.simpleString}")
        case _ =>
      }
    }
  }
}
