package graft

import java.nio.charset.Charset
import java.nio.file.Files

import graft.rewrite.{Rewriter, SchemaScript}

class SchemaScriptSpec extends SparkTestBase {

  test("render → rewrite → replay round-trips the catalog schema") {
    val script = SchemaScript.render(spark, sfDir)
    // go-delimited: 10 CREATE TABLE + 2 FK statements
    assert(script.count(_.trim.equalsIgnoreCase("go")) == 12)
    val rewritten = Rewriter.rewrite(script)
    // FK statements split out by the rule engine
    assert(rewritten.exists(_.is_fk))
    val created = SchemaScript.replay(spark, rewritten, "graft_replay")
    assert(created.toSet == graft.core.Tables.names.toSet)
    // replayed schema matches the source schema (names + types)
    graft.core.Tables.names.foreach { n =>
      val src = graft.core.Tables.load(spark, sfDir, n).schema
      val dst = spark.table(s"graft_replay.$n").schema
      assert(dst.fields.map(_.name).sameElements(src.fields.map(_.name)), s"cols for $n")
    }
    spark.sql("DROP DATABASE graft_replay CASCADE")
  }

  test("charset-aware text source (S4): non-UTF8 file reads correctly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_charset")
    val f = dir.resolve("latin1.csv")
    val content = "id,name\n1,café\n2,señor\n"
    Files.write(f, content.getBytes(Charset.forName("ISO-8859-1")))
    val df = spark.read
      .option("header", "true").option("encoding", "ISO-8859-1")
      .csv(f.toString)
    val names = df.select("name").collect().map(_.getString(0)).sorted
    assert(names.sameElements(Array("café", "señor")))
  }
}
