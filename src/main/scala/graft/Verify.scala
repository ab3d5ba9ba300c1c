package graft
import java.nio.file.{Files, Paths}

import graft.core.{Engine, Json}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop only;
    // the driver always invokes with exactly two args → full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    // the bench's session: the oracle gate checks results under the same
    // physical policy (width, splits, codec, state store, staging) that
    // the bench times
    val spark = Engine.session("graft-verify", dataDir = Some(sfDir))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable => // broad: the gate needs an artifact for every entry
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        // A thrown query must still leave an artifact, or the driver's
        // gate OMITS the row instead of showing it red — in round 10,
        // 25 throws silently shrank CORRECTNESS from 133 to 108 entries.
        // Oracle-gated queries get a 1-row frame whose only column is
        // `err` (schema mismatch → red, message visible in the artifact);
        // rows-only queries get the same frame EMPTY (rows=0 → red,
        // since any non-empty frame would pass their weaker rows>0 check).
        try {
          import spark.implicits._
          val errDf =
            if (SparkEntry.oracleSql.contains(name)) Seq(msg).toDF("err")
            else Seq.empty[String].toDF("err")
          errDf.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable => // broad: the gate needs the other entries' artifacts
          System.err.println(s"[verify] $name error artifact failed: ${e2.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(SparkEntry.oracleSql))
    // failure manifest beside the outputs (empty object when all green)
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.write(failures))
    spark.stop()
    // Surface-shrinkage tripwire: every selected query must have left an
    // output directory (a real result or the error artifact). If any is
    // missing the dump is structurally incomplete — exit non-zero so the
    // driver's rc catches it instead of the gate quietly shrinking.
    val missing = selected.keys.filterNot(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS"))).toSeq.sorted
    if (missing.nonEmpty) {
      System.err.println(
        s"[verify] INCOMPLETE: ${missing.size}/${selected.size} outputs missing: " +
          missing.mkString(","))
      sys.exit(1)
    }
  }
}
