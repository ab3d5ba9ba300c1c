package graft.transfer

import java.nio.file.{Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Object-store transfer utilities (SURVEY §2.1 S12-S14).
  *
  * The reference uploads per-file over WebHDFS with curl, validates by
  * LISTSTATUS size compare, and works around a 95 GB single-file limit with
  * `split --bytes=95G` + remote MERGE (`/root/reference/Migration/
  * copy_data_to_hdlfs.sh:16,52-159`).
  *
  * The transfer plane here is the Hadoop `FileSystem` API, so ONE code path
  * serves every scheme a URI names: `file://` in the sandbox specs,
  * `hdfs://` on a cluster, and `webhdfs://host:port/...` — Hadoop's WebHDFS
  * client speaks the same REST endpoints the reference curls (OP=CREATE,
  * LISTSTATUS…), with kerberos/token auth handled by the filesystem.
  * Validation compares (name, size) listings on the driver, where
  * [[listing]] already builds them from one LISTSTATUS per directory.
  *
  * On `file:` each copy is a create on [[graft.core.LocalFs]]'s raw plane,
  * which sets the file's mode through java.nio: the stock local FileSystem
  * forks `chmod` for every create and new directory, about 2.4 ms a file.
  */
object Transfer {

  /** The byte plane of `p`'s FileSystem: the process-wide cached instance,
    * or its raw FileSystem where the cached one is a checksum filesystem
    * (the local one), so no `.crc` sibling lands in an upload dir and no
    * setting of the shared instance changes. Shared, so never closed. */
  private def rawFs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** Copy `src` to `dstDir`, splitting into ≤ chunkBytes parts when needed
    * (the 95 GB workaround). Works on any FileSystem scheme. Returns the
    * part files written. */
  def copyChunked(src: Path, dstDir: Path, chunkBytes: Long,
      conf: Configuration): Seq[Path] = {
    val sfs = rawFs(src, conf)
    val dfs = rawFs(dstDir, conf)
    dfs.mkdirs(dstDir)
    val size = sfs.getFileStatus(src).getLen
    val in = sfs.open(src)
    try {
      if (size <= chunkBytes) {
        val dst = new Path(dstDir, src.getName)
        val out = dfs.create(dst, true)
        try in.transferTo(out) finally out.close()
        Seq(dst)
      } else {
        val buf = new Array[Byte](1 << 20)
        var part = 0
        val written = Seq.newBuilder[Path]
        var remaining = size
        while (remaining > 0) {
          val dst = new Path(dstDir, s"${src.getName}.part$part")
          val out = dfs.create(dst, true)
          try {
            var partBytes = 0L
            var n = 0
            while (partBytes < chunkBytes && {
              val want = math.min(buf.length.toLong, chunkBytes - partBytes).toInt
              n = in.read(buf, 0, want); n > 0
            }) {
              out.write(buf, 0, n); partBytes += n
            }
            remaining -= partBytes
          } finally out.close()
          written += dst
          part += 1
        }
        written.result()
      }
    } finally in.close()
  }

  /** Server-side MERGE analog: concatenate parts (in order) into one file
    * and delete them (the DELETE_BATCH step). Cross-scheme: parts may live
    * on one filesystem and `dst` on another. */
  def merge(parts: Seq[Path], dst: Path, conf: Configuration): Unit = {
    val out = rawFs(dst, conf).create(dst, true)
    try parts.foreach { p =>
      val in = rawFs(p, conf).open(p)
      try in.transferTo(out) finally in.close()
    } finally out.close()
    parts.foreach(p => rawFs(p, conf).delete(p, false))
  }

  // NIO-path overloads (sandbox/local callers), same engine underneath.
  def copyChunked(src: JPath, dstDir: JPath, chunkBytes: Long): Seq[JPath] =
    copyChunked(new Path(src.toUri), new Path(dstDir.toUri), chunkBytes,
      new Configuration())
      .map(p => java.nio.file.Paths.get(p.toUri))

  def merge(parts: Seq[JPath], dst: JPath): Unit =
    merge(parts.map(p => new Path(p.toUri)), new Path(dst.toUri),
      new Configuration())

  /** Listing of (file_name, size_bytes) as a DataFrame — for a webhdfs://
    * URI this IS the reference's LISTSTATUS call
    * (load_schema_and_data.py:342-406), issued by the Hadoop client. */
  def listing(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isFile)
        .map(s => Row(s.getPath.getName, s.getLen)).sortBy(_.getString(0))
    spark.createDataFrame(files.asJava, ListingSchema)
  }

  /** [[listing]]'s columns: a fixed schema, so no encoder is derived per call. */
  private val ListingSchema = StructType(Seq(
    StructField("file_name", StringType),
    StructField("size_bytes", LongType, nullable = false)))

  /** Upload validation: every local file present remotely with equal size.
    * Returns (n_local, n_matched, ok); remote-only files match nothing. */
  def validate(local: DataFrame, remote: DataFrame): (Long, Long, Boolean) = {
    def files(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getAs[String]("file_name"), r.getAs[Long]("size_bytes")))
    val l = files(local)
    val nMatched = l.count(files(remote).toSet).toLong
    (l.size.toLong, nMatched, nMatched == l.size)
  }
}
