package graft.rewrite

import java.util.Locale

import scala.annotation.tailrec

/** Catalog-driven artifact-rule assembly (C2's second half).
  *
  * The reference builds ~10³ comment rules from ~20 catalog queries before
  * the rewriter runs: dbo-owned objects (`/root/reference/Migration/
  * migration.py:646-729`), `_sap\_%`-owned objects (`731-813`, the
  * LIKE-ESCAPE owner pattern), their indexes/triggers/procedures, and the
  * TRANSITIVE view-dependency closure over SYSDEPENDENCY (`684-692,
  * 777-786`) so a view over a commented table — at any depth — is commented
  * too, plus a fixed list of `call dbo.sa_*` entries (`720-728`).
  *
  * The catalog rows are catalog-sized control data, so the joins run as
  * plain Scala over them on the driver, like the reference's cursor loops
  * and in-memory artifact list; the multilevel view walk is a reachability
  * fixpoint over the dependency edges.
  */
object RuleAssembly {

  /** One assembled rule, with `'NULL'` placeholders like DB_Artifacts.list. */
  final case class ArtifactRule(pattern: String, action: String, pat1: String, pat2: String)

  private def comment(pattern: String, pat1: String, pat2: String) =
    ArtifactRule(pattern, "COMMENT", pat1, pat2)

  private def isDbo(user: String): Boolean = user.toLowerCase(Locale.ROOT) == "dbo"

  /** `lower(user_name) LIKE '_sap\_%' ESCAPE '\'` (migration.py:736): any
    * one character, then a literal `sap_`. */
  private def isSap(user: String): Boolean = {
    val u = user.toLowerCase(Locale.ROOT)
    u.nonEmpty && u.startsWith("sap_", u.offsetByCodePoints(0, 1))
  }

  /** `name LIKE '<prefix>_%'`: the prefix, then at least one character. The
    * `_` is a wildcard, so `sap_loader` matches `'sa_%'`. Case-sensitive. */
  private def likePrefixAndOne(name: String, prefix: String): Boolean =
    name.startsWith(prefix) && name.length > prefix.length

  /** Ids of the objects that depend on one of `roots`, directly or through
    * other dependents, over (child, parent) edges. A root is in the result
    * only if a cycle leads back to it; a cycle ends the walk, since an id is
    * expanded once. */
  private def dependents(deps: Seq[(Int, Int)], roots: Set[Int]): Set[Int] = {
    val children = deps.groupMap(_._2)(_._1)
    @tailrec def walk(frontier: Set[Int], seen: Set[Int]): Set[Int] = {
      val next = frontier.flatMap(children.getOrElse(_, Nil)) -- seen
      if (next.isEmpty) seen else walk(next, seen ++ next)
    }
    walk(roots, Set.empty)
  }

  /** Fixed `call dbo.sa_*` list (migration.py:720-728). */
  private val CallRules = Seq(
    "sa_reset_identity", "sa_make_object", "sa_sync", "sa_sync_sub",
    "sa_internal_load_cost_model", "sa_internal_system_task",
    "sa_refresh_text_indexes", "sa_refresh_materialized_views")

  /** Assemble the rules from catalog rows.
    *
    * @param users    (user_id, user_name)
    * @param tables   (table_id, object_id, table_name, creator, table_type, server_type)
    * @param indexes  (index_name, table_id)
    * @param triggers (trigger_name, table_id)
    * @param procs    (proc_name, creator)
    * @param objects  (object_id, obj_name) — tables AND views
    * @param deps     (child, parent) — dependent object over referenced object
    * @return the distinct rules, in first-derived order
    */
  def assemble(users: Seq[(Int, String)],
      tables: Seq[(Int, Int, String, Int, String, String)],
      indexes: Seq[(String, Int)], triggers: Seq[(String, Int)],
      procs: Seq[(String, Int)], objects: Seq[(Int, String)],
      deps: Seq[(Int, Int)]): Seq[ArtifactRule] = {
    val userNames = users.groupMap(_._1)(_._2)

    def ownedRules(owner: String => Boolean): Seq[ArtifactRule] = {
      // (table_id, object_id, table_name, user_name) of the owner's IQ tables
      val owned = for {
        (tid, oid, name, creator, tableType, serverType) <- tables
        if tableType == "BASE" && serverType == "IQ"
        user <- userNames.getOrElse(creator, Nil) if owner(user)
      } yield (tid, oid, name, user)
      val ownedIds = owned.map(_._1).toSet
      // tables: (name, COMMENT, CREATE TABLE|CREATE procedure, owner)
      val tableRules = owned.flatMap { case (_, _, name, user) =>
        Seq(comment(name, "CREATE TABLE", user), comment(name, "CREATE procedure", user))
      }
      // indexes on owned tables (migration.py:663-667)
      val idxRules = indexes.collect {
        case (ix, tid) if ownedIds(tid) => comment(ix, "CREATE", "INDEX")
      }
      // triggers on owned tables (migration.py:669-675)
      val trgRules = triggers.filter(t => ownedIds(t._2)).flatMap { case (trg, _) =>
        Seq(comment(trg, "CREATE TRIGGER", "NULL"), comment(trg, "COMMENT ON", "TRIGGER"),
          comment(trg, "COMMENT TO PRESERVE FORMAT ON", "TRIGGER"))
      }
      // multilevel view dependents of owned tables (migration.py:677-698)
      val views = dependents(deps, owned.map(_._2).toSet)
      val viewRules = objects.filter(o => views(o._1)).flatMap { case (_, name) =>
        Seq(comment(name, "CREATE VIEW", "NULL"), comment(name, "COMMENT ON", "VIEW"),
          comment(name, "COMMENT TO PRESERVE FORMAT ON", "VIEW"))
      }
      tableRules ++ idxRules ++ trgRules ++ viewRules
    }

    // procedures/functions by owner (migration.py:700-709), sp_/sa_ excluded
    def ownedProcRules(owner: String => Boolean): Seq[ArtifactRule] =
      procs.filter { case (proc, creator) =>
        !likePrefixAndOne(proc, "sp") && !likePrefixAndOne(proc, "sa") &&
          userNames.getOrElse(creator, Nil).exists(owner)
      }.flatMap { case (proc, _) =>
        Seq(comment(proc, "CREATE procedure", "NULL"), comment(proc, "COMMENT ON", "Procedure"),
          comment(proc, "COMMENT TO PRESERVE FORMAT ON", "Procedure"),
          comment(proc, "CREATE FUNCTION", "NULL"))
      }

    // _sap_% users themselves are commented out as GRANT CONNECT entries
    // (migration.py:736-741)
    val sapUserRules = users.collect {
      case (_, user) if isSap(user) => comment(user, "GRANT CONNECT", "NULL")
    }

    (ownedRules(isDbo) ++ ownedProcRules(isDbo) ++ ownedRules(isSap) ++
      ownedProcRules(isSap) ++ sapUserRules ++ CallRules.map(comment("call", _, "dbo")))
      .distinct
  }

  /** Rules over the deterministic catalog fixture. */
  def fixture: Seq[ArtifactRule] = {
    val f = CatalogFixture
    assemble(f.users, f.tables, f.indexes, f.triggers, f.procs, f.objects, f.deps)
  }

  /** Assembled rules as rewriter rules, `'NULL'` placeholders dropped. */
  def toRules(rules: Seq[ArtifactRule]): Seq[Rewriter.Rule] = {
    def present(p: String) = Option(p).filter(p => p != "NULL" && p.nonEmpty)
    rules.map(r => Rewriter.Rule(r.pattern, present(r.pat1), present(r.pat2),
      banner = s"catalog artifact: ${r.pattern}"))
  }
}

/** Deterministic SYSTABLE/SYSUSER/SYSDEPENDENCY-shaped fixture — the
  * catalog a small IQ server with dbo/_sap_ content would present
  * (FIXTURES.md pattern: static Seqs so the DuckDB oracle replays the
  * identical VALUES literals).
  *
  * `xsap_ops` matches `'_sap\_%' ESCAPE '\'` via the leading single-char
  * wildcard; `sapling` does not (no underscore at position 4);
  * `audit_proxy` is dbo-owned but server_type='SA', excluded by the
  * reference's server_type='IQ' filter; `v_audit2` is only reachable
  * through the MULTILEVEL dependency v_audit2 → v_audit → audit_log.
  */
object CatalogFixture {
  // (user_id, user_name)
  val users: Seq[(Int, String)] = Seq(
    (1, "DBA"), (2, "dbo"), (101, "_sap_etl"), (102, "xsap_ops"),
    (103, "analyst"), (104, "sapling"))

  // (table_id, object_id, table_name, creator, table_type, server_type)
  val tables: Seq[(Int, Int, String, Int, String, String)] = Seq(
    (1, 101, "audit_log", 2, "BASE", "IQ"),
    (2, 102, "etl_stage", 101, "BASE", "IQ"),
    (3, 103, "ops_log", 102, "BASE", "IQ"),
    (4, 104, "orders", 1, "BASE", "IQ"),
    (5, 105, "audit_proxy", 2, "BASE", "SA"))

  // (index_name, table_id)
  val indexes: Seq[(String, Int)] = Seq(("ix_audit", 1), ("ix_orders", 4))

  // (trigger_name, table_id)
  val triggers: Seq[(String, Int)] = Seq(("trg_audit", 1))

  // (proc_name, creator): sp_helper excluded by the sp_% filter
  val procs: Seq[(String, Int)] = Seq(
    ("dbo_cleanup", 2), ("sp_helper", 2), ("sap_loader", 101))

  // (object_id, obj_name): tables and views share the object namespace
  val objects: Seq[(Int, String)] = Seq(
    (101, "audit_log"), (102, "etl_stage"), (103, "ops_log"),
    (104, "orders"), (105, "audit_proxy"),
    (201, "v_audit"), (202, "v_audit2"), (203, "v_etl"), (204, "v_orders"))

  // (child, parent): dependent object → referenced object
  val deps: Seq[(Int, Int)] = Seq(
    (201, 101), // v_audit → audit_log
    (202, 201), // v_audit2 → v_audit (multilevel)
    (203, 102), // v_etl → etl_stage
    (204, 104)) // v_orders → orders (DBA-owned: must NOT be commented)

  private def lit2(vs: Seq[(Int, String)], cols: String) =
    vs.map { case (a, b) => s"($a, '$b')" }.mkString("(VALUES ", ", ", s") AS t($cols)")

  def usersLiteral: String = lit2(users, "user_id, user_name")
  def objectsLiteral: String = lit2(objects, "object_id, obj_name")
  def indexesLiteral: String =
    indexes.map { case (n, t) => s"('$n', $t)" }
      .mkString("(VALUES ", ", ", ") AS t(index_name, table_id)")
  def triggersLiteral: String =
    triggers.map { case (n, t) => s"('$n', $t)" }
      .mkString("(VALUES ", ", ", ") AS t(trigger_name, table_id)")
  def procsLiteral: String =
    procs.map { case (n, c) => s"('$n', $c)" }
      .mkString("(VALUES ", ", ", ") AS t(proc_name, creator)")
  def tablesLiteral: String =
    tables.map { case (t, o, n, c, tt, st) => s"($t, $o, '$n', $c, '$tt', '$st')" }
      .mkString("(VALUES ", ", ",
        ") AS t(table_id, object_id, table_name, creator, table_type, server_type)")
  def depsLiteral: String =
    deps.map { case (c, p) => s"($c, $p)" }
      .mkString("(VALUES ", ", ", ") AS t(child, parent)")
}
