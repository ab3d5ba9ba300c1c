package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Schema and row count of parquet data from its footers, on the driver and
  * with no Spark job. Parquet files describe themselves: each footer holds
  * the schema and every row group's row count. The reference reads the same
  * two facts from the server catalog instead of scanning
  * (`migration.py:1691,1704-1706`). */
object Footers {

  final case class Summary(schema: StructType, rows: Long)

  /** The summary of the parquet data at `path`: a single file, or a dir of
    * data files (names starting with `_` or `.` are skipped, as Spark's
    * reader skips them). The schema is the one Spark's own inference takes
    * from the first file, converted under the session's conf (Spark's row
    * metadata, `nanosAsLong`, timestamp inference), as the footer declares
    * it: a reader given it makes every column nullable, as inference does.
    * The rows are the sum over every file's row groups. `None` when only
    * Spark's file listing can answer: a missing path, a dir with no data
    * file, or one with subdirectories (partition discovery). */
  def read(spark: SparkSession, path: String): Option[Summary] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val listed = if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
    val files = listed.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.sortBy(_.getPath.getName)
    if (files.isEmpty || files.exists(_.isDirectory)) None
    else {
      val metas = files.map(s => ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(s, conf), ParquetMetadataConverter.NO_FILTER))
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(files.head.getPath, metas.head),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      Some(Summary(schema, metas.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum))
    }
  }
}
