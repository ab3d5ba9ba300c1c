package graft.rewrite

import java.util.Locale
import java.util.regex.Pattern

/** The schema-script rewriter (SURVEY §2.9 C1-C6): takes an
  * `iqunload`-shaped `reload.sql` as its lines, segments them into
  * statements on bare `go` delimiters, classifies each statement against an
  * ordered artifact-rule list, and emits (a) the rewritten script with
  * unsupported statements commented out under Begin/End banners, (b) foreign
  * key DDL split into its own script for deferred post-load execution.
  *
  * Reference behavior being reproduced (cited into `/root/reference/`):
  *  - statement extent discovery by scanning to the surrounding `go` lines —
  *    `Migration/migration.py:1126-1145`; here a running `go` count (C1).
  *  - rule engine: (pattern, COMMENT, pat1, pat2) tuples from
  *    `Common/DB_Artifacts.list` + catalog queries; match ⇒ comment every
  *    line and add banners — `migration.py:1110-1178` (C2).
  *  - `ALTER TABLE … FOREIGN KEY` statements additionally captured into
  *    `Foreign_Key_Constraint.sql` — `migration.py:1153-1168`.
  *  - word-replace rules (2-field), e.g. DBA→HDLADMIN, dbspace remap —
  *    `migration.py:1286-1293`, `Common/DB_Artifacts.list:29-30` (C3).
  *  - CREATE DOMAIN: strip `AS USER …` suffix — `migration.py:1211-1219`.
  *  - `password values` blanket comment — `migration.py:1221-1237`.
  *  - sentinel-bracketed serialization — `migration.py:611-616,1295` (C6).
  *
  * Driver-side text processing, like the reference's: a script is MB-sized
  * and its passes are order-sensitive scans over its lines.
  */
object Rewriter {

  /** One classified, possibly-rewritten script line. */
  final case class OutLine(line_no: Long, stmt_id: Long, text: String,
      commented: Boolean, is_fk: Boolean)

  /** (pattern, commentAction, pat1, pat2): statement is rewritten when
    * `pattern` matches AND (pat1 absent or present) AND (pat2 absent or
    * present) — word-boundary, case-insensitive, like migration.py:1013. */
  final case class Rule(pattern: String, pat1: Option[String] = None,
      pat2: Option[String] = None, banner: String = "")

  /** Word-replace rules applied to lines of NON-commented statements. */
  final case class Replace(from: String, to: String)

  /** Single-line comment rules: pattern AND pat1 both on ONE line ⇒ that
    * line alone is commented (migration.py:1236-1246, the
    * default_logical_server / call-style artifacts). Statement rules comment
    * whole go-delimited statements; line rules surgically hit lines inside
    * otherwise-kept statements (procedure bodies — which is what arms the
    * procedure sweep, migration.py:1248-1283). */
  final case class LineRule(pattern: String, pat1: String)

  /** The built-in rule set, mirroring Common/DB_Artifacts.list:1-33 semantics
    * against our dialect subset. Order matters (migration.py:1106-1107).
    * `password values` is NOT here: the reference excludes it from the
    * statement pass (migration.py:1112) and blankets ±4 lines around each
    * hit instead (1221-1237) — see [[rewrite]]. */
  val defaultRules: Seq[Rule] = Seq(
    Rule("CREATE TEXT CONFIGURATION", banner = "text configuration"),
    Rule("EXTERNAL NAME", banner = "external-environment procedure"),
    Rule("CREATE EXISTING TABLE", banner = "proxy table"),
    Rule("ALTER DBSPACE", banner = "dbspace DDL"),
    Rule("CREATE INDEX", pat1 = Some("HNG"), banner = "HNG index"),
    Rule("default_logical_server", banner = "logical server option"))

  /** Line-level rules: unsupported calls / options commented in place
    * (reference: the sa_* dbo call list, migration.py:720-728, matched
    * per-line at 1236-1246). */
  val defaultLineRules: Seq[LineRule] = Seq(
    "sa_reset_identity", "sa_make_object", "sa_sync", "sa_sync_sub",
    "sa_internal_load_cost_model", "sa_internal_system_task",
    "sa_refresh_text_indexes", "sa_refresh_materialized_views")
    .map(p => LineRule("call", p))

  /** C3 (migration.py:1211-1219): CREATE DOMAIN keeps the statement but the
    * `AS USER …` suffix is stripped (`re.split(r"AS USER +")[0]`). */
  val domainStripRule: Rule = Rule("CREATE DOMAIN", pat1 = Some("AS USER"),
    banner = "domain AS USER (stripped)")

  val fkRule: Rule = Rule("ALTER TABLE", pat1 = Some("FOREIGN KEY"),
    pat2 = Some("REFERENCES"), banner = "foreign key (deferred)")

  val defaultReplaces: Seq[Replace] = Seq(
    Replace("DBA", "HDLADMIN"),
    Replace("IQ_SYSTEM_MAIN", "user_object_store"))

  /** `pat` as a whole word, case-insensitive (migration.py:1013). */
  private def word(pat: String): Pattern =
    Pattern.compile("\\b" + Pattern.quote(pat) + "\\b", Pattern.CASE_INSENSITIVE)

  private val procPat =
    Pattern.compile("\\b(create|replace)\\s+procedure\\b", Pattern.CASE_INSENSITIVE)

  private val domainSuffix = Pattern.compile("(?i)\\s+AS USER\\s+.*$")

  /** A `go` delimiter line: `go` in any case, between spaces only (SQL
    * `trim`, not Java's, which also strips tabs and control characters). */
  private def isGo(text: String): Boolean =
    text.replaceAll("^ +| +$", "").toLowerCase(Locale.ROOT) == "go"

  /** Full rewrite: every input line once, in order, with its statement id,
    * rewritten text and comment/FK flags.
    *
    * Pass order, mirroring the reference's commands loop:
    *  1. statement rules — comment whole go-delimited statements
    *     (migration.py:1110-1178; our statement extent is the full
    *     go-to-go span, a documented superset of the reference's
    *     comment/blank-bounded sub-extent). C1: a statement id is the count
    *     of `go` lines strictly before the line, so a `go` line closes the
    *     statement it follows.
    *  2. line rules — comment single matching lines inside kept statements
    *     (migration.py:1236-1246).
    *  3. `password values` blanket — the matching line and 4 lines either
    *     side, crossing statement boundaries exactly like the reference
    *     (migration.py:1221-1237).
    *  4. procedure sweep — a create/replace procedure statement left
    *     partially commented by passes 2-3 is commented entirely
    *     (migration.py:1248-1283: "stored procedure with commented
    *     unsupported artifacts ⇒ comment entire stored procedure").
    *  5. word replaces — applied to EVERY line, commented and FK included
    *     (migration.py:1286-1293 runs unconditionally over all lines; the
    *     FK script is derived from the already-replaced text at 1338-1386,
    *     so the deferred FK DDL targets the renamed objects). */
  def rewrite(rawLines: Seq[String],
      rules: Seq[Rule] = defaultRules,
      replaces: Seq[Replace] = defaultReplaces,
      lineRules: Seq[LineRule] = defaultLineRules): Seq[OutLine] = {
    val lines = rawLines.toIndexedSeq
    val stmtIds = lines.scanLeft(0L)((n, t) => if (isGo(t)) n + 1 else n).init
    val stmtText: Map[Long, String] = lines.indices.groupBy(stmtIds)
      .map { case (id, ix) => id -> ix.map(lines).mkString("\n") }
    // pass 1: the first matching rule classifies the statement
    val ruleWords = (rules ++ Seq(fkRule, domainStripRule)).map(r =>
      r -> (r.pattern +: (r.pat1.toSeq ++ r.pat2)).map(word))
    val hit: Map[Long, Option[Rule]] = stmtText.map { case (id, text) =>
      id -> ruleWords.collectFirst { case (r, ws) if ws.forall(_.matcher(text).find()) => r }
    }
    // passes 2-3: line rules on kept statements, the password blanket on all
    val lineWords = lineRules.map(r => (word(r.pattern), word(r.pat1)))
    val pw = lines.map(_.contains("password values"))
    val lineCommented = lines.indices.map { i =>
      (i - 4 to i + 4).exists(j => pw.isDefinedAt(j) && pw(j)) ||
        hit(stmtIds(i)).isEmpty && lineWords.exists { case (p, p1) =>
          p.matcher(lines(i)).find() && p1.matcher(lines(i)).find() }
    }
    // pass 4: kept procedures with a commented line are commented whole
    val touched = lines.indices.filter(lineCommented).map(stmtIds).toSet
    val swept = touched.filter(id =>
      hit(id).isEmpty && procPat.matcher(stmtText(id)).find())
    // pass 5: word replaces on every line
    val replaceWords = replaces.map(r => word(r.from) -> r.to)
    lines.indices.map { i =>
      val id = stmtIds(i)
      val replaced = replaceWords.foldLeft(lines(i)) { case (t, (p, to)) =>
        p.matcher(t).replaceAll(to) }
      OutLine(i.toLong, id,
        if (hit(id).contains(domainStripRule)) domainSuffix.matcher(replaced).replaceAll("")
        else replaced,
        commented = hit(id).exists(r => r != fkRule && r != domainStripRule) ||
          lineCommented(i) || swept(id),
        is_fk = hit(id).contains(fkRule))
    }
  }

  /** C4 (migration.py:1046-1085 + Common/login_policy.csv): when the root
    * login policy deviates from the shipped defaults, clone it as `c_root`
    * and move every non-admin user onto the clone. The diff is the E2
    * intersection-then-compare the reference does in Python sets. */
  def loginPolicyRewrite(rootOptions: Map[String, String],
      defaults: Map[String, String], users: Seq[String]): Seq[String] = {
    val diffs = rootOptions.toSeq
      .filter { case (k, v) => defaults.get(k).exists(_ != v) }
      .sortBy(_._1)
    if (diffs.isEmpty) Seq.empty
    else {
      val clone = "CREATE LOGIN POLICY \"c_root\" " +
        diffs.map { case (k, v) => s"$k=$v" }.mkString(" ")
      Seq(clone, "go") ++ users
        .filterNot(u => u.equalsIgnoreCase("DBA") || u.equalsIgnoreCase("HDLADMIN"))
        .flatMap(u => Seq(s"""ALTER USER "$u" LOGIN POLICY "c_root"""", "go"))
    }
  }

  /** C6: serialize the rewritten script (ordered, bannered, sentineled) and
    * the deferred-FK script. Driver-side by design — order-sensitive text. */
  def serialize(out: Seq[OutLine]): (String, String) = {
    val sb = new StringBuilder("-- Begin AutoUpdated_Reload (graft rewriter)\n")
    val fk = new StringBuilder("-- Begin Foreign_Key_Constraint (graft rewriter)\n")
    var lastStmt = -1L
    out.sortBy(_.line_no).foreach { l =>
      if (l.is_fk) {
        fk.append(l.text).append('\n')
        if (l.stmt_id != lastStmt) { lastStmt = l.stmt_id }
        sb.append("-- [moved to Foreign_Key_Constraint.sql] ").append(l.text).append('\n')
      } else if (l.commented) {
        if (l.stmt_id != lastStmt) {
          sb.append("-- Begin unsupported statement\n"); lastStmt = l.stmt_id
        }
        sb.append("-- ").append(l.text).append('\n')
      } else {
        sb.append(l.text).append('\n')
      }
    }
    sb.append("-- Completed AutoUpdated_Reload\n")
    fk.append("-- Completed Foreign_Key_Constraint\n")
    (sb.toString, fk.toString)
  }
}
