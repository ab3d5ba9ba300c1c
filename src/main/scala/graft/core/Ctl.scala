package graft.core

import java.nio.charset.StandardCharsets

import scala.io.Codec

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Control-file IO through each path's own Hadoop FileSystem.
  *
  * The migration phases exchange state via small text files (iq_tables.list,
  * batch lists, ExtractedTables.out, HDL_LoadedTables.out — the reference's
  * control files). The extract manifests already ride the Hadoop FS so an
  * out dir on hdfs:// or an object store works; this routes the control
  * files through the same layer, so the whole phase protocol — including
  * the stale-batch cleanup guarding the batches+spill==iq_tables
  * invariant — works wherever the manifests do, instead of half-working
  * through java.nio on local paths only.
  *
  * Locally the layer is [[LocalFs]]: a write's temp file and its `.crc`
  * fork no `chmod` (about 5 ms a write with the stock local FileSystem),
  * and its `rename` refuses an existing target as HDFS does, which
  * [[write]] handles.
  */
object Ctl {

  private def fsOf(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  /** Replace `path`'s content: write a hidden sibling, then rename it into
    * place, so a kill mid-write leaves the old file or the new one, never a
    * truncated one. Where rename does not overwrite (HDFS), the target is
    * deleted first. */
  def write(conf: Configuration, path: String, content: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val fs = fsOf(p, conf)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      throw new java.io.IOException(s"could not rename $tmp to $p")
  }

  /** Lines of `path`, decoded by `codec` (UTF-8, failing on malformed
    * input, unless the caller picks another). */
  def readLines(conf: Configuration, path: String,
      codec: Codec = Codec.UTF8): Seq[String] = {
    val p = new Path(path)
    val in = fsOf(p, conf).open(p)
    try scala.io.Source.fromInputStream(in)(codec).getLines().toList
    finally in.close()
  }

  def exists(conf: Configuration, path: String): Boolean = {
    val p = new Path(path)
    fsOf(p, conf).exists(p)
  }

  def delete(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    fsOf(p, conf).delete(p, false)
  }

  def mkdirs(conf: Configuration, path: String): Unit = {
    val p = new Path(path)
    fsOf(p, conf).mkdirs(p)
  }

  /** Names of the plain files directly under `dir` (empty if absent). */
  def listFileNames(conf: Configuration, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(p, conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
  }
}
