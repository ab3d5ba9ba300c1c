package graft.rewrite

import java.nio.charset.CodingErrorAction

import scala.io.Codec

import org.apache.hadoop.conf.Configuration

import graft.core.Ctl

/** S5: rule-list sources with ragged-arity handling.
  *
  * The reference assembles its rule set from `Common/DB_Artifacts.list` —
  * comma-split lines of 2, 3 or 4 fields (`/root/reference/Migration/
  * migration.py:620-635`): 4 fields = (pattern, COMMENT, pat1, pat2) with
  * `NULL` placeholders, 3 = (pattern, COMMENT, pat1), 2 = word-replace
  * (from, to). Same parse here, into [[Rewriter.Rule]] / [[Rewriter.Replace]].
  */
object RuleSource {

  /** Parse ragged rule lines. Returns (comment rules, replace rules). */
  def parse(lines: Seq[String]): (Seq[Rewriter.Rule], Seq[Rewriter.Replace]) = {
    val cleaned = lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    val parsed = cleaned.map(_.split(",").map(_.trim).toSeq)
    val rules = parsed.collect {
      case Seq(pat, "COMMENT", p1, p2) =>
        Rewriter.Rule(pat,
          Option(p1).filter(_ != "NULL"), Option(p2).filter(_ != "NULL"),
          banner = pat.toLowerCase)
      case Seq(pat, "COMMENT", p1) =>
        Rewriter.Rule(pat, Option(p1).filter(_ != "NULL"), None, banner = pat.toLowerCase)
      case Seq(pat, "COMMENT") =>
        Rewriter.Rule(pat, None, None, banner = pat.toLowerCase)
    }
    val replaces = parsed.collect {
      case Seq(from, to) if to != "COMMENT" => Rewriter.Replace(from, to)
    }
    (rules, replaces)
  }

  /** Charset detection (Common/common.py:338-347): the source database's
    * `db_property('Charset')` — trimmed, exactly as the reference's
    * `trim(db_property('Charset'))` — names the charset all file I/O uses,
    * with one remap: IQ reports packed Japanese as
    * `Extended_UNIX_Code_Packed_Format_for_Japanese`, a name the decoder
    * stack doesn't know, so it becomes `EUC-JP` (the reference's "Python
    * doesn't support charset …" fallback). Absent property ⇒ UTF-8. */
  def detectCharset(props: Map[String, String]): String =
    props.get("Charset").map(_.trim).filter(_.nonEmpty) match {
      case Some("Extended_UNIX_Code_Packed_Format_for_Japanese") => "EUC-JP"
      case Some(cs) => cs
      case None => "UTF-8"
    }

  /** Load a rule file charset-aware (the reference's `codecs.open(f, "r",
    * common.charset)`, Common/common.py:338-347 — EUC-JP fallback etc.),
    * through the path's own Hadoop FileSystem like every control file. Bytes
    * the charset cannot decode become U+FFFD rather than failing the read, so
    * a wrong charset yields rules that match nothing. */
  def load(conf: Configuration, path: String, encoding: String = "UTF-8")
      : (Seq[Rewriter.Rule], Seq[Rewriter.Replace]) =
    parse(Ctl.readLines(conf, path, Codec(encoding)
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)))
}
