package graft.core

import java.io.FileNotFoundException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem, installed by [[Engine.session]] as
  * `fs.file.impl`: Hadoop's checksummed local FileSystem whose raw plane sets
  * permissions through java.nio.
  *
  * Without libhadoop (`NativeIO` not loaded), `RawLocalFileSystem` sets a
  * file's or new directory's mode by forking `chmod`, about 2.4 ms each, so
  * every `create` (twice with its `.crc`) and every new `mkdirs` pays a
  * process spawn: Spark's writers and committers, the LOB sink's per-row
  * files, control files, manifests and transfer copies.
  *
  * Hadoop's FileSystem cache is keyed by scheme, authority and user, not by
  * the configuration, so the JVM's first `file:` instance decides for every
  * later `FileSystem.get`: a session from [[Engine.session]], or a
  * configuration from [[Engine.hadoopConf]], must open the first local path,
  * as the CLI's `main` does.
  *
  * It keeps the one rule of the class it replaces, hive-exec's
  * `ProxyLocalFileSystem`: `rename` onto an existing file returns false and
  * moves nothing, as on HDFS, where `Ctl.write` deletes the target first.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

object LocalFs {

  /** The raw plane: sets the 9 mode bits through java.nio; a sticky bit,
    * which NIO cannot set, or a store with no POSIX view goes the stock
    * way. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString)) // "rw-r--r--"
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
