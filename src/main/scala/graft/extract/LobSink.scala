package graft.extract

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SerializableHadoopConf

/** S9: per-row LOB file sink + binaryFile read-back.
  *
  * The reference extracts LOB columns one file per non-null cell, named
  * `<tableId>_row<rowid>.<columnId>` via server-side BFILE()
  * (`/root/reference/Migration/migration.py:2262-2296`). Spark shape:
  * `foreachPartition` writing files named from the row's stable id —
  * distributed, no driver collect; read back with the `binaryFile` source.
  * Files go through the Hadoop FileSystem resolved from the DRIVER's
  * configuration (shipped via [[SerializableHadoopConf]]), so the sink
  * writes to hdfs:///object-store paths the same as to file:// — executors
  * writing java.nio local paths would scatter files across worker disks.
  * On `file:` that FileSystem is [[graft.core.LocalFs]], so a cell's file
  * and its `.crc` cost no forked `chmod` each (about 5 ms a cell with the
  * stock local FileSystem).
  *
  * rowid() has no Spark equivalent with identical stability; we use the
  * row's own key column (the engine's documented deviation, SURVEY §7.4).
  */
object LobSink {

  /** Write one file per non-null cell: dir/<tableId>_row<id>.<colId>.
    * `dir` is emptied first, so a re-extract leaves no file of an earlier
    * one behind. Returns the [[fileCount]] after the write: a count kept by
    * the tasks would count a retried task's files twice. */
  def writePerRow(df: DataFrame, idCol: String, lobCol: String,
      dir: String, tableId: Int, colId: Int): Long = {
    val driverConf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(driverConf)
    fs.delete(new Path(dir), true)
    fs.mkdirs(new Path(dir))
    val hconf = new SerializableHadoopConf(driverConf)
    df.select(col(idCol).cast("long"), col(lobCol).cast("binary"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = new Path(dir).getFileSystem(hconf.value)
        rows.foreach { r =>
          if (!r.isNullAt(1)) {
            val out = fs.create(new Path(dir, s"${tableId}_row${r.getLong(0)}.$colId"), true)
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
      }
    fileCount(dir, driverConf)
  }

  /** The per-row files under `dir`, as listed through its Hadoop FileSystem
    * (which hides checksum siblings). No Spark job. */
  def fileCount(dir: String, conf: Configuration): Long = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p)
      .count(s => s.isFile && s.getPath.getName.contains("_row")).toLong
  }

  /** Read a per-row LOB directory back as (path, length, content). */
  def readBack(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length"), col("content"))
}
