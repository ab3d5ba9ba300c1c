package migbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cli.Main
import graft.core.Ctl
import graft.sources.Jdbc
import graft.transfer.Transfer

/** One migration of the source tier through the program's public entry
  * points: premigration, extraction, transfer to a landing dir, load from
  * the landing dir. With `srcUrl` set the source is a live JDBC database and
  * the load goes into a second one under the iteration's dir. */
final class Pipeline(spark: SparkSession, srcDir: String, srcUrl: Option[String]) {
  import Pipeline._

  private val conf = spark.sparkContext.hadoopConfiguration

  def targetUrl(d: Dirs): String = Jdbc.derbyUrl(d.target)

  def migrate(d: Dirs, tr: Trace): TransferStats = {
    Ctl.mkdirs(conf, d.extract)
    Ctl.mkdirs(conf, d.landing)
    tr.span("premigration")(Main.premigration(spark, srcDir, d.extract, srcUrl.getOrElse("")))
    tr.span("extract")(extract(d))
    val ts = tr.span("transfer")(transfer(d, resume = false))
    tr.span("load")(load(d))
    ts
  }

  /** Finish a migration that lost some tables: extraction, transfer of
    * the files missing or size-mismatched in the landing dir, load. */
  def resume(d: Dirs, tr: Trace): TransferStats = tr.span("resume") {
    extract(d)
    val ts = transfer(d, resume = true)
    load(d)
    ts
  }

  private def extract(d: Dirs): Unit = srcUrl match {
    case Some(url) =>
      Main.onlySchema(spark, d.extract)
      Main.onlyDataJdbc(spark, url, d.extract)
    case None => Main.fullExtraction(spark, srcDir, d.extract)
  }

  private def load(d: Dirs): Unit = srcUrl match {
    case Some(_) => Main.fullLoadJdbc(spark, d.landing, targetUrl(d))
    case None => Main.fullLoad(spark, d.landing)
  }

  /** Copy every visible file under `Extracted_Data` to the landing dir, one
    * `copyChunked` per file, then check each directory with `listing` +
    * `validate`, then copy `ExtractedTables.out`. On resume only files
    * missing from the landing dir or differing in size are copied. */
  def transfer(d: Dirs, resume: Boolean): TransferStats = {
    val srcRoot = s"${d.extract}/Extracted_Data"
    val dstRoot = s"${d.landing}/Extracted_Data"
    val subdirs = Option(new java.io.File(srcRoot).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && Files.visible(f.getName)).map(_.getName).sorted
    val copyMs = mutable.ArrayBuffer.empty[Double]
    var bytes = 0L
    var validateNs = 0L
    val invalid = mutable.ArrayBuffer.empty[String]
    (srcRoot +: subdirs.map(s => s"$srcRoot/$s")).foreach { dir =>
      val dst = dstRoot + dir.stripPrefix(srcRoot)
      val local = Transfer.listing(spark, dir)
        .filter(!col("file_name").startsWith(".") && !col("file_name").startsWith("_"))
      val landed: Map[String, Long] =
        if (resume) Transfer.listing(spark, dst).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map.empty
      local.collect().foreach { r =>
        val (name, size) = (r.getString(0), r.getLong(1))
        if (!landed.get(name).contains(size)) {
          val t0 = System.nanoTime()
          Transfer.copyChunked(new Path(s"$dir/$name"), new Path(dst), ChunkBytes, conf)
          copyMs += (System.nanoTime() - t0) / 1e6
          bytes += size
        }
      }
      val t0 = System.nanoTime()
      val (n, matched, ok) = Transfer.validate(local, Transfer.listing(spark, dst))
      validateNs += System.nanoTime() - t0
      if (!ok) invalid += s"Transfer.validate: $dst matches $matched of $n files"
    }
    Transfer.copyChunked(new Path(s"${d.extract}/ExtractedTables.out"), new Path(d.landing),
      ChunkBytes, conf)
    TransferStats(copyMs.toSeq, bytes, validateNs / 1e9, invalid.toSeq)
  }

  /** Make a completed migration lose `tables`: their extract artifacts,
    * landed copies, loaded data and `HDL_LoadedTables.out` lines. */
  def damage(d: Dirs, tables: Seq[String]): Unit = {
    val tids = Ctl.readLines(conf, s"${d.extract}/ExtractedTables.out").map(_.split(','))
      .map(f => f(0).stripPrefix("graft.") -> f(1)).toMap
    tables.foreach { t =>
      val tid = tids(t)
      Seq(d.extract, d.landing).foreach { root =>
        Option(new java.io.File(s"$root/Extracted_Data").listFiles()).toSeq.flatten
          .filter(f => f.getName == tid || f.getName.startsWith(s"$tid.") ||
            f.getName.startsWith(s".$tid."))
          .foreach(f => Files.delete(f.getPath))
      }
      if (srcUrl.isDefined) Jdbc.execute(targetUrl(d), s"DROP TABLE $t", ignoreMissingTable = true)
      else Files.delete(s"${d.landing}/warehouse/$t")
    }
    val loaded = s"${d.landing}/HDL_LoadedTables.out"
    Ctl.write(conf, loaded, Ctl.readLines(conf, loaded)
      .filterNot(l => tables.exists(t => l.startsWith(s"graft.$t,"))).mkString("", "\n", "\n"))
  }

  /** Problems with a finished migration: any loaded table whose row count
    * or content digest differs from its source, a `HDL_LoadedTables.out`
    * status other than Y, or a failed transfer validation. */
  def verify(d: Dirs, expected: Map[String, (StructType, Digest)], ts: TransferStats): Seq[String] = {
    val status = Ctl.readLines(conf, s"${d.landing}/HDL_LoadedTables.out").map(_.trim)
      .filter(_.nonEmpty).map(_.split(',')).map(f => f(0).stripPrefix("graft.") -> f.last).toMap
    ts.invalid ++ Par.map(expected.toSeq.sortBy(_._1)) { case (t, (schema, want)) =>
      val loaded =
        if (srcUrl.isDefined) Jdbc.read(spark, targetUrl(d), t)
        else spark.read.parquet(s"${d.landing}/warehouse/$t")
      val got = Digest.of(loaded, schema)
      (if (status.get(t).contains("Y")) Nil
       else Seq(s"HDL_LoadedTables.out: $t is ${status.getOrElse(t, "missing")}")) ++
        (if (got == want) Nil else Seq(s"content: $t loaded $got, source $want"))
    }.flatten
  }

  /** Delete an iteration's dirs, shutting its target database down first. */
  def clean(d: Dirs): Unit = {
    if (srcUrl.isDefined && new java.io.File(d.target).exists()) shutdownDerby(d.target)
    Files.delete(d.root)
  }
}

object Pipeline {

  /** The reference's single-file upload limit (`split --bytes=95G`). */
  val ChunkBytes: Long = 95L << 30

  final case class Dirs(root: String) {
    val extract = s"$root/extract"
    val landing = s"$root/landing"
    val target = s"$root/target"
  }

  final case class TransferStats(copyMs: Seq[Double], bytes: Long, validateS: Double,
      invalid: Seq[String])

  /** Shut down an embedded Derby database so its files can be deleted. */
  def shutdownDerby(dir: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/graftdb;shutdown=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
}
