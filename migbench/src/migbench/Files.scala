package migbench

import java.io.File

/** Local-file helpers for the benchmark's own bookkeeping. "Visible" means
  * what Hadoop readers see: names not starting with `.` or `_`. */
object Files {

  def visible(name: String): Boolean = !name.startsWith(".") && !name.startsWith("_")

  /** Every visible regular file under `path`, recursively. */
  def visibleFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filter(c => visible(c.getName))
        .sortBy(_.getName).flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    walk(new File(path))
  }

  def visibleBytes(path: String): Long = visibleFiles(path).map(_.length).sum

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}
