package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, Tables}
import graft.extract.Extract
import graft.functions.Portable.{dsum, sqlDsum}
import graft.load.Loader
import graft.premigration.Checks
import graft.rewrite.{ReloadFixture, Rewriter}
import graft.sources.Source

/** Migration-phase operators as verifiable queries: statement segmentation
  * (C1), the rewriter cascade (C2-C6), extract sink/source round-trip
  * (S4/S6), load verify (C5), driver-side planners (O3/O4), premigration
  * findings (§3.1).
  */
object Migration {

  /** DuckDB replay of one option audit (pre_migration.py:659-680):
    * Permanent census → intersect with the noncustomer list → the
    * reference's non-empty guard (empty intersection reports the full
    * census). */
  private def optionAuditOracle(list: Seq[String], comment: String): String = {
    val f = graft.premigration.OptionsFixture
    s"""WITH chk AS (SELECT * FROM ${f.checkOptionsLiteral}),
       |l AS (SELECT * FROM ${f.listLiteral(list)}),
       |perm AS (SELECT DISTINCT option_name FROM chk WHERE option_type = 'Permanent'),
       |inter AS (SELECT option_name FROM perm INTERSECT SELECT option_name FROM l),
       |res AS (SELECT option_name FROM inter
       |        UNION ALL
       |        SELECT option_name FROM perm
       |        WHERE NOT EXISTS (SELECT 1 FROM inter))
       |SELECT option_name, '$comment' AS comment FROM res
       |ORDER BY option_name""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // C1: statement segmentation over the reload.sql fixture; oracle replays
    // the running-`go`-count window over the identical VALUES literal.
    QueryDef(
      "c1_segmentation",
      s"""SELECT CAST(line_no AS BIGINT) AS line_no,
         |  CAST(coalesce(sum(CASE WHEN trim(lower(text)) = 'go' THEN 1 ELSE 0 END)
         |    OVER (ORDER BY line_no ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS stmt_id
         |FROM ${ReloadFixture.valuesLiteral} ORDER BY line_no""".stripMargin) { (s, _) =>
      s.createDataFrame(Rewriter.rewrite(ReloadFixture.lines))
        .select("line_no", "stmt_id").orderBy("line_no")
    },

    // C2-C4: full rewrite cascade — classification flags per line. The
    // oracle replays the whole cascade in DuckDB (RE2 regexes over the same
    // statement/rule literals): segmentation, the ordered statement-rule
    // CASE, line rules on kept statements, the ±4-line password blanket,
    // and the partially-commented-procedure sweep. Golden-file ScalaTest
    // still covers the rewritten TEXT; this gates the flag relation.
    QueryDef(
      "c2_rewrite_flags",
      s"""WITH l AS (SELECT * FROM ${ReloadFixture.valuesLiteral}),
         |seg AS (SELECT line_no, text,
         |  CAST(coalesce(sum(CASE WHEN trim(lower(text)) = 'go' THEN 1 ELSE 0 END)
         |    OVER (ORDER BY line_no ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS stmt_id
         |  FROM l),
         |st AS (SELECT stmt_id, string_agg(text, chr(10) ORDER BY line_no) AS stmt_text
         |       FROM seg GROUP BY stmt_id),
         |cls AS (SELECT stmt_id,
         |  CASE WHEN regexp_matches(stmt_text, '(?is)\\bCREATE TEXT CONFIGURATION\\b')
         |         OR regexp_matches(stmt_text, '(?is)\\bEXTERNAL NAME\\b')
         |         OR regexp_matches(stmt_text, '(?is)\\bCREATE EXISTING TABLE\\b')
         |         OR regexp_matches(stmt_text, '(?is)\\bALTER DBSPACE\\b')
         |         OR (regexp_matches(stmt_text, '(?is)\\bCREATE INDEX\\b')
         |             AND regexp_matches(stmt_text, '(?is)\\bHNG\\b'))
         |         OR regexp_matches(stmt_text, '(?is)\\bdefault_logical_server\\b')
         |       THEN 'comment'
         |       WHEN regexp_matches(stmt_text, '(?is)\\bALTER TABLE\\b')
         |            AND regexp_matches(stmt_text, '(?is)\\bFOREIGN KEY\\b')
         |            AND regexp_matches(stmt_text, '(?is)\\bREFERENCES\\b')
         |       THEN 'fk'
         |       WHEN regexp_matches(stmt_text, '(?is)\\bCREATE DOMAIN\\b')
         |            AND regexp_matches(stmt_text, '(?is)\\bAS USER\\b')
         |       THEN 'strip'
         |       ELSE 'keep' END AS action,
         |  regexp_matches(stmt_text, '(?is)\\b(create|replace)\\s+procedure\\b') AS is_proc
         |  FROM st),
         |j AS (SELECT seg.line_no, seg.text, seg.stmt_id, cls.action, cls.is_proc
         |      FROM seg JOIN cls USING (stmt_id)),
         |f AS (SELECT *,
         |  CASE WHEN contains(text, 'password values') THEN 1 ELSE 0 END AS pw_hit,
         |  CASE WHEN action = 'keep' AND regexp_matches(text, '(?i)\\bcall\\b') AND (
         |      regexp_matches(text, '(?i)\\bsa_reset_identity\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_make_object\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_sync\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_sync_sub\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_internal_load_cost_model\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_internal_system_task\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_refresh_text_indexes\\b')
         |      OR regexp_matches(text, '(?i)\\bsa_refresh_materialized_views\\b'))
         |    THEN 1 ELSE 0 END AS line_hit
         |  FROM j),
         |g AS (SELECT *,
         |  (max(pw_hit) OVER (ORDER BY line_no ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) = 1
         |   OR line_hit = 1) AS line_commented FROM f),
         |h AS (SELECT *, is_proc AND action = 'keep' AND
         |  max(CASE WHEN line_commented THEN 1 ELSE 0 END) OVER (PARTITION BY stmt_id) = 1 AS sweep
         |  FROM g)
         |SELECT CAST(line_no AS BIGINT) AS line_no, stmt_id,
         |  (action = 'comment' OR line_commented OR sweep) AS commented,
         |  (action = 'fk') AS is_fk
         |FROM h ORDER BY line_no""".stripMargin) { (s, _) =>
      s.createDataFrame(Rewriter.rewrite(ReloadFixture.lines))
        .select("line_no", "stmt_id", "commented", "is_fk")
        .orderBy("line_no")
    },

    // C2b: catalog-driven artifact-rule assembly (migration.py:646-989) —
    // dbo-owned + '_sap\_%'-owned objects, their indexes/triggers/procs,
    // the MULTILEVEL view-dependency closure, sap GRANT CONNECT entries and
    // the static dbo call list, as one deterministic rule relation. Oracle
    // replays the same joins with a recursive CTE over identical VALUES.
    QueryDef(
      "c3_rule_assembly",
      {
        val f = graft.rewrite.CatalogFixture
        s"""WITH RECURSIVE
           |u AS (SELECT * FROM ${f.usersLiteral}),
           |tb AS (SELECT * FROM ${f.tablesLiteral}),
           |ix AS (SELECT * FROM ${f.indexesLiteral}),
           |tg AS (SELECT * FROM ${f.triggersLiteral}),
           |pr AS (SELECT * FROM ${f.procsLiteral}),
           |ob AS (SELECT * FROM ${f.objectsLiteral}),
           |dp AS (SELECT * FROM ${f.depsLiteral}),
           |owned AS (
           |  SELECT tb.*, u.user_name FROM tb JOIN u ON creator = user_id
           |  WHERE (lower(user_name) = 'dbo' OR lower(user_name) LIKE '_sap\\_%' ESCAPE '\\')
           |    AND table_type = 'BASE' AND server_type = 'IQ'),
           |reach AS (
           |  SELECT child, parent FROM dp
           |  UNION SELECT r.child, d.parent FROM reach r JOIN dp d ON r.parent = d.child),
           |ownedviews AS (
           |  SELECT DISTINCT ob.obj_name FROM reach
           |  JOIN owned ON reach.parent = owned.object_id
           |  JOIN ob ON ob.object_id = reach.child),
           |ownedprocs AS (
           |  SELECT proc_name FROM pr JOIN u ON creator = user_id
           |  WHERE (lower(user_name) = 'dbo' OR lower(user_name) LIKE '_sap\\_%' ESCAPE '\\')
           |    AND proc_name NOT LIKE 'sp_%' AND proc_name NOT LIKE 'sa_%'),
           |rules AS (
           |  SELECT table_name AS pattern, 'COMMENT' AS action, 'CREATE TABLE' AS pat1, user_name AS pat2 FROM owned
           |  UNION ALL SELECT table_name, 'COMMENT', 'CREATE procedure', user_name FROM owned
           |  UNION ALL SELECT index_name, 'COMMENT', 'CREATE', 'INDEX' FROM ix JOIN owned USING (table_id)
           |  UNION ALL SELECT trigger_name, 'COMMENT', 'CREATE TRIGGER', 'NULL' FROM tg JOIN owned USING (table_id)
           |  UNION ALL SELECT trigger_name, 'COMMENT', 'COMMENT ON', 'TRIGGER' FROM tg JOIN owned USING (table_id)
           |  UNION ALL SELECT trigger_name, 'COMMENT', 'COMMENT TO PRESERVE FORMAT ON', 'TRIGGER' FROM tg JOIN owned USING (table_id)
           |  UNION ALL SELECT obj_name, 'COMMENT', 'CREATE VIEW', 'NULL' FROM ownedviews
           |  UNION ALL SELECT obj_name, 'COMMENT', 'COMMENT ON', 'VIEW' FROM ownedviews
           |  UNION ALL SELECT obj_name, 'COMMENT', 'COMMENT TO PRESERVE FORMAT ON', 'VIEW' FROM ownedviews
           |  UNION ALL SELECT proc_name, 'COMMENT', 'CREATE procedure', 'NULL' FROM ownedprocs
           |  UNION ALL SELECT proc_name, 'COMMENT', 'COMMENT ON', 'Procedure' FROM ownedprocs
           |  UNION ALL SELECT proc_name, 'COMMENT', 'COMMENT TO PRESERVE FORMAT ON', 'Procedure' FROM ownedprocs
           |  UNION ALL SELECT proc_name, 'COMMENT', 'CREATE FUNCTION', 'NULL' FROM ownedprocs
           |  UNION ALL SELECT user_name, 'COMMENT', 'GRANT CONNECT', 'NULL' FROM u
           |            WHERE lower(user_name) LIKE '_sap\\_%' ESCAPE '\\'
           |  UNION ALL SELECT 'call', 'COMMENT', c, 'dbo' FROM (VALUES
           |    ('sa_reset_identity'), ('sa_make_object'), ('sa_sync'), ('sa_sync_sub'),
           |    ('sa_internal_load_cost_model'), ('sa_internal_system_task'),
           |    ('sa_refresh_text_indexes'), ('sa_refresh_materialized_views')) AS cl(c))
           |SELECT DISTINCT pattern, action, pat1, pat2 FROM rules
           |ORDER BY pattern, action, pat1, pat2""".stripMargin
      }) { (s, _) =>
      s.createDataFrame(graft.rewrite.RuleAssembly.fixture)
        .orderBy("pattern", "action", "pat1", "pat2")
    },

    // Environment/version gates (migration.py:316-414) over a fixed MPX
    // topology + property fixture; oracle recomputes every decision branch
    // in SQL over the identical literals.
    QueryDef(
      "g1_env_gates",
      """WITH nodes AS (SELECT * FROM (VALUES
        |    ('coord1','coordinator','included','active'),
        |    ('w1','writer','included','active'),
        |    ('r1','reader','included','suspended')) AS t(server_name, role, status, inc_state)),
        |props AS (SELECT 'SAP IQ/16.1.01.7788' AS version, 'Off' AS readonly,
        |                 'coord1' AS connected, false AS probe_write_ok),
        |sec AS (SELECT count(*) AS n FROM nodes
        |        WHERE status='included' AND inc_state='active' AND role IN ('writer','reader')),
        |coord AS (SELECT server_name FROM nodes WHERE role='coordinator'),
        |g AS (
        |  SELECT 'mpx_coordinator' AS gate,
        |    (SELECT server_name FROM coord) = (SELECT connected FROM props) AS pass,
        |    CASE WHEN (SELECT server_name FROM coord) = (SELECT connected FROM props)
        |      THEN 'coordinator ok, ' || (SELECT n FROM sec) || ' active secondary nodes'
        |      ELSE 'connected to ' || (SELECT connected FROM props) ||
        |           ', coordinator is ' || (SELECT server_name FROM coord) END AS detail
        |  UNION ALL
        |  SELECT 'version',
        |    NOT contains(version, 'SAP IQ/16.0.'),
        |    CASE WHEN contains(version, 'SAP IQ/16.0.')
        |           THEN '16.0 is not supported (no parallelized compressed extraction)'
        |         WHEN contains(version, 'SAP IQ/16.1.01')
        |           THEN '16.1.01: text/binary extraction without compression'
        |         ELSE 'compressed parallel extraction' END FROM props
        |  UNION ALL
        |  SELECT 'readonly',
        |    readonly = 'On' OR NOT probe_write_ok,
        |    CASE WHEN readonly = 'On' THEN 'db_property(readonly)=On'
        |         WHEN NOT probe_write_ok
        |           THEN 'readonly enforced by engine (-iqro dbspaces), probe refused'
        |         ELSE 'database is writable; start source readonly or force write mode'
        |         END FROM props)
        |SELECT gate, pass, detail FROM g ORDER BY gate""".stripMargin) { (s, _) =>
      import graft.premigration.Gates
      s.createDataFrame(Gates.evaluate(
        props = Map("version" -> "SAP IQ/16.1.01.7788", "readonly" -> "Off"),
        nodes = Seq(
          Gates.MpxNode("coord1", "coordinator", "included", "active"),
          Gates.MpxNode("w1", "writer", "included", "active"),
          Gates.MpxNode("r1", "reader", "included", "suspended")),
        connectedServer = "coord1",
        probeWriteSucceeds = () => false))
    },

    // O3: LPT node assignment invariants (migration.py:1656-1677,1817-1846).
    // The per-table node ids aren't SQL-replayable (the heap is imperative),
    // so the gated row is the PROPERTIES the reference itself asserts of an
    // assignment: every table assigned exactly once to a valid node, and the
    // LPT makespan within 2x the load lower bound max(total/n, max item) —
    // Graham's LPT guarantee is (4/3 - 1/3n)*OPT and OPT >= the bound, so a
    // correct heap always satisfies it while a broken one (dropped table,
    // max-loaded dequeue) flips a boolean and the hash goes red. DuckDB
    // independently replays the census side (n_tables, byte totals from
    // count(*) x declared width). Per-assignment detail stays covered by
    // PlannerSpec.
    QueryDef("o3_lpt_assign", {
      val sz = Inventory.STATIC_WIDTHS.toSeq.sortBy(_._1).map { case (n, w) =>
        s"SELECT CAST(count(*) * $w AS BIGINT) AS b FROM $n"
      }.mkString("WITH sz AS (", " UNION ALL ", ")")
      s"""$sz
         |SELECT CAST(count(*) AS BIGINT) AS n_tables,
         |  CAST(sum(b) AS BIGINT) AS total_bytes,
         |  CAST(max(b) AS BIGINT) AS max_item_bytes,
         |  CAST(4 AS BIGINT) AS n_nodes,
         |  true AS all_assigned_once, true AS lpt_within_bound
         |FROM sz""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val items = Inventory.STATIC_WIDTHS.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((n, w), i) =>
          val rc = Tables.load(s, dir, n).count()
          Extract.WorkItem(n, rc, rc * w, 1000 + i)
      }
      val n = 4
      val assign = Extract.lptAssign(items, n)
      val loads = (0 until n).map(node =>
        items.filter(it => assign.get(it.name).contains(node)).map(_.sizeBytes).sum)
      val total = items.map(_.sizeBytes).sum
      val maxItem = items.map(_.sizeBytes).max
      val bound = math.max(total.toDouble / n, maxItem.toDouble)
      val allAssigned = assign.keySet == items.map(_.name).toSet &&
        assign.values.forall(v => v >= 0 && v < n)
      val withinBound = loads.max.toDouble <= 2.0 * bound
      Seq((items.size.toLong, total, maxItem, n.toLong, allAssigned, withinBound))
        .toDF("n_tables", "total_bytes", "max_item_bytes", "n_nodes",
          "all_assigned_once", "lpt_within_bound")
    },

    // O4: size-capped batch packing invariants (migration.py:1758-1784,
    // 1817-1846): batches ⊎ spilled == inventory with no loss/dup, every
    // batch within the cap, and exactly the over-cap items spilled (the
    // no_extraction.list behavior). n_spilled IS SQL-replayable — an item
    // spills iff its bytes exceed the cap — so the oracle checks it
    // directly; the greedy fill order is not, so its properties ride the
    // boolean columns. Per-batch detail stays covered by PlannerSpec.
    QueryDef("o4_batch_pack", {
      val cap = 1L << 20
      val sz = Inventory.STATIC_WIDTHS.toSeq.sortBy(_._1).map { case (n, w) =>
        s"SELECT CAST(count(*) * $w AS BIGINT) AS b FROM $n"
      }.mkString("WITH sz AS (", " UNION ALL ", ")")
      s"""$sz
         |SELECT CAST(count(*) AS BIGINT) AS n_tables,
         |  CAST(sum(b) AS BIGINT) AS total_bytes,
         |  CAST($cap AS BIGINT) AS cap_bytes,
         |  CAST(sum(CASE WHEN b > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_spilled,
         |  true AS partition_exact, true AS batches_within_cap
         |FROM sz""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val items = Inventory.STATIC_WIDTHS.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((n, w), i) =>
          val rc = Tables.load(s, dir, n).count()
          Extract.WorkItem(n, rc, rc * w, 1000 + i)
      }
      val cap = 1L << 20
      val (batches, spilled) = Extract.batch(items, capBytes = cap)
      val flat = batches.flatten ++ spilled
      val partitionExact = flat.map(_.name).sorted == items.map(_.name).sorted
      val capsOk = batches.forall(_.map(_.sizeBytes).sum <= cap) &&
        spilled.forall(_.sizeBytes > cap)
      Seq((items.size.toLong, items.map(_.sizeBytes).sum, cap,
          spilled.size.toLong, partitionExact, capsOk))
        .toDF("n_tables", "total_bytes", "cap_bytes", "n_spilled",
          "partition_exact", "batches_within_cap")
    },

    // S6+S4: gzip-CSV extract sink, explicit-schema read-back, aggregate
    // equality against the source — the extract/load fidelity invariant.
    QueryDef(
      "x1_extract_roundtrip",
      "SELECT l_returnflag, count(*) AS n, " + sqlDsum("l_quantity") + " AS sum_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val out = java.nio.file.Files.createTempDirectory("graft_extract").toString
      Extract.extractGzipCsv(li, out)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType)))
      Extract.readExtracted(s, out, schema)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // S7+S11: binary (parquet) extract sink round-trip with the
    // write-observed row count feeding the manifest — the Observation
    // single-scan path behind the oracle gate.
    QueryDef(
      "x2_parquet_roundtrip",
      """SELECT count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events").select("event_id", "value")
      val out = java.nio.file.Files.createTempDirectory("graft_x2").toString + "/events"
      val observed = Extract.extractParquet(ev, out)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
        // the observed write-count must agree with the read-back count
        .filter(col("n") === observed)
    },

    // C5: staged load + count verify + atomic promote, per table.
    QueryDef(
      "ld1_load_verify",
      Seq("nation", "region", "supplier").sorted.map { n =>
        s"SELECT '$n' AS table_name, count(*) AS expected, count(*) AS loaded, true AS ok FROM $n"
      }.mkString("", " UNION ALL ", " ORDER BY table_name")) { (s, dir) =>
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_load").toString
      Seq("nation", "region", "supplier").sorted.map { n =>
        val df = Tables.load(s, dir, n)
        Loader.loadVerified(df, df.count(), s"$base/$n")
      }.toDF().select(
        col("tableName").as("table_name"), col("expected"), col("loaded"), col("ok"))
        .orderBy("table_name")
    },

    // Premigration feature audit (§3.1): the reference's full ~21-check
    // catalog dispatch (pre_migration.py:96-757,856-905) over the
    // deterministic SYS mirror; the oracle replays every branch in SQL over
    // the identical VALUES literals.
    QueryDef(
      "pm2_feature_audit",
      {
        val f = graft.premigration.FeatureCatalogFixture
        val sup = graft.premigration.FeatureAudit.SupportedServerClasses
          .map(c => s"'$c'").mkString(", ")
        val sys = graft.premigration.FeatureAudit.SystemUsers
          .map(u => s"'$u'").mkString(", ")
        s"""WITH dbsp AS (SELECT * FROM ${f.dbspacesLiteral}),
           |iqt AS (SELECT * FROM ${f.iqTablesLiteral}),
           |srv AS (SELECT * FROM ${f.serversLiteral}),
           |pr AS (SELECT * FROM ${f.procsLiteral}),
           |usr AS (SELECT * FROM ${f.usersLiteral}),
           |cert AS (SELECT * FROM ${f.certificatesLiteral}),
           |xenv AS (SELECT * FROM ${f.externalEnvsLiteral}),
           |xobj AS (SELECT * FROM ${f.externalEnvObjsLiteral}),
           |sprs AS (SELECT * FROM ${f.spatialRefsLiteral}),
           |tb AS (SELECT * FROM ${f.tablesLiteral}),
           |ix AS (SELECT * FROM ${f.indexesLiteral}),
           |iqf AS (SELECT * FROM ${f.iqFilesLiteral}),
           |ls AS (SELECT * FROM ${f.logicalServersLiteral}),
           |opt AS (SELECT * FROM ${f.optionsLiteral}),
           |mpx AS (SELECT * FROM ${f.mpxNodesLiteral}),
           |chk AS (SELECT * FROM ${f.checkOptionsLiteral}),
           |ws AS (SELECT * FROM ${f.webServicesLiteral}),
           |props AS (SELECT '${f.properties("version")}' AS version,
           |  '${f.properties("Encryption")}' AS encryption,
           |  '${f.properties("MaxConnections")}' AS max_connections),
           |fs AS (
           |SELECT 'Multiple_DBSpaces' AS feature, false AS action_required,
           |  'To be merged into one dbspace.' AS comment
           |  WHERE (SELECT count(*) FROM dbsp WHERE dbspace_type = 'MAIN') > 1
           |UNION ALL SELECT 'RLV_Support', true, 'RLV is not supported in the target engine.'
           |  WHERE (SELECT count(*) FROM iqt WHERE is_rlv = 'T') <> 0
           |     OR (SELECT count(*) FROM dbsp WHERE dbspace_type = 'RLV') <> 0
           |UNION ALL SELECT 'Current_IQ_Version not 16.1', true,
           |  'Upgrade required as parallelization in extraction is not supported in below IQ versions.'
           |  WHERE EXISTS (SELECT 1 FROM props WHERE NOT regexp_matches(version, '16.1'))
           |UNION ALL SELECT 'DB_Encryption Enabled', false,
           |  'On-prem encryption key will not work in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM props WHERE encryption <> 'None')
           |UNION ALL SELECT 'Non-SAP remote source', false,
           |  'Target engine does not have access to clients for non-SAP data sources.'
           |  FROM srv WHERE srvclass NOT IN ($sup)
           |UNION ALL SELECT 'SAP remote source', true,
           |  'Automated migration of SAP(ASE, HANA, IQ, SQL Anywhere) remote sources is not supported.'
           |  FROM srv WHERE srvclass IN ($sup)
           |UNION ALL SELECT 'External_UDF', true, 'External UDFs not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM pr WHERE proc_defn LIKE '%external name%')
           |UNION ALL SELECT 'Reserved_User_Names', false,
           |  'Reserved usernames(saptu, sapsupport, custadmin, hdladmin) to be deleted/renamed.'
           |  WHERE EXISTS (SELECT 1 FROM usr
           |    WHERE user_name IN ('saptu', 'sapsupport', 'custadmin', 'hdladmin'))
           |UNION ALL SELECT 'DBA_user', false, 'To be replaced by hdladmin.'
           |  WHERE EXISTS (SELECT 1 FROM usr WHERE user_name = 'DBA')
           |UNION ALL SELECT 'Certificates', false,
           |  'Security certificates to be deleted as not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM cert)
           |UNION ALL SELECT 'External_Environment', true,
           |  'External Environment not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM xenv)
           |UNION ALL SELECT 'External_Environment_Objects', true,
           |  'External Environment Objects not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM xobj)
           |UNION ALL SELECT 'Spatial_Unit_Of_Measure', true,
           |  'Geospatial features not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM sprs)
           |UNION ALL SELECT 'SQLA_Tables', true,
           |  'SQLA catalog tables not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM tb WHERE user_name NOT IN ($sys)
           |    AND table_type = 'BASE' AND server_type = 'SA')
           |UNION ALL SELECT 'LF_INDEXES', false,
           |  'LF indexes are considered obsolete; default FP indexes recommended.'
           |  WHERE EXISTS (SELECT 1 FROM ix WHERE index_type = 'LF')
           |UNION ALL SELECT 'HNG_INDEXES', false,
           |  'HNG indexes are considered obsolete; default FP indexes recommended.'
           |  WHERE EXISTS (SELECT 1 FROM ix WHERE index_type = 'HNG')
           |UNION ALL SELECT 'LOCAL_DBFILES', false, 'To be merged into one dbspace.'
           |  WHERE EXISTS (SELECT 1 FROM iqf WHERE segment_type = 'Local')
           |UNION ALL SELECT 'Logical_Servers', true,
           |  'Logical servers not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM ls WHERE ls_id > 10000)
           |UNION ALL SELECT 'DQP_Enabled', false, 'Not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM opt
           |    WHERE "option" LIKE 'DQP_Enabled%' AND setting = 'ON')
           |UNION ALL SELECT 'IQ_SHARED_TEMP', false, 'Not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM dbsp WHERE dbspace_name = 'IQ_SHARED_TEMP')
           |UNION ALL SELECT 'Web_Services', false,
           |  'Web services not supported in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM ws)
           |UNION ALL SELECT 'MPX_Readers_Present', false,
           |  'All target worker nodes are provisioned as writer nodes.'
           |  WHERE EXISTS (SELECT 1 FROM mpx WHERE role = 'reader')
           |UNION ALL SELECT 'StartupOptions', false,
           |  'Target startup options are set based on node t-shirt size.'
           |  WHERE EXISTS (SELECT 1 FROM props WHERE max_connections IS NOT NULL)
           |UNION ALL SELECT 'MPX_options', false,
           |  'MPX options not supported in the target engine.'
           |  FROM chk WHERE option_name LIKE 'MPX_options%' AND opt_user = 'PUBLIC'
           |UNION ALL SELECT 'MPX_test_options', false,
           |  'MPX test options not supported in the target engine.'
           |  FROM chk WHERE option_name LIKE 'MPX_test_options%' AND opt_user = 'PUBLIC'
           |UNION ALL SELECT 'Temp_Extract_Directory', false,
           |  'Reset required: must be an object store path in the target engine.'
           |  WHERE EXISTS (SELECT 1 FROM opt
           |    WHERE "option" LIKE 'Temp_Extract_Directory%' AND setting <> ''))
           |SELECT feature, action_required, comment FROM fs
           |ORDER BY feature, comment""".stripMargin
      }) { (s, _) =>
      graft.premigration.FeatureAudit.findings(s)
    },

    // Server-option audits at the reference lists' full cardinality
    // (pre_migration.py:633-723): distinct Permanent options ∩ the 108-row
    // SA list / 663-row IQ list, with the reference's empty-intersection
    // fallthrough replayed in SQL.
    QueryDef(
      "pm3_dbopts_options",
      optionAuditOracle(graft.premigration.OptionsFixture.dbOptsNoncustomer,
        "HDL unsupport SQL Anywhere server options.")) { (s, _) =>
      graft.premigration.OptionAudit.unsupportedOptions(
        graft.premigration.OptionsFixture.checkOptionsDF(s),
        graft.premigration.OptionsFixture.dbOptsNoncustomer,
        "HDL unsupport SQL Anywhere server options.")
    },
    QueryDef(
      "pm4_hosparams_options",
      optionAuditOracle(graft.premigration.OptionsFixture.hosParamsNoncustomer,
        "HDL unsupport IQ server options.")) { (s, _) =>
      graft.premigration.OptionAudit.unsupportedOptions(
        graft.premigration.OptionsFixture.checkOptionsDF(s),
        graft.premigration.OptionsFixture.hosParamsNoncustomer,
        "HDL unsupport IQ server options.")
    },

    // Premigration findings (§3.1): per-check scalar counts unioned.
    QueryDef(
      "pm1_findings",
      {
        def row(name: String, cnt: String) =
          s"SELECT '$name' AS check_name, CAST(($cnt) AS BIGINT) AS finding_count, ($cnt) > 0 AS action_required"
        val emptyTablesCnt = "SELECT count(*) FROM (" +
          graft.core.Tables.names.map(n => s"SELECT count(*) AS c FROM $n").mkString(" UNION ALL ") +
          ") WHERE c = 0"
        val wideCnt = Inventory.STATIC_WIDTHS.values.count(_ > 128)
        Seq(
          row("customers_without_orders",
            "SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"),
          row("duplicate_orderkeys",
            "SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)"),
          row("empty_documents", "SELECT count(*) FROM documents WHERE length(text) = 0"),
          row("empty_tables", emptyTablesCnt),
          row("future_dates",
            "SELECT count(*) FROM events WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2030-01-01'"),
          row("lob_like_columns", "SELECT 1"),
          row("negative_balances", "SELECT count(*) FROM customer WHERE c_acctbal < 0"),
          row("orders_without_lines",
            "SELECT count(*) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)"),
          row("wide_row_tables", s"SELECT $wideCnt")
        ).map(r => "(" + r + ")").mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY check_name")
      }) { (s, dir) =>
      s.createDataFrame(Checks.findings(Source.parquet(s, dir)))
        .toDF("check_name", "finding_count", "action_required")
    }
  )
}
