package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{QueryDef, Tables}
import graft.functions.Portable._

/** SURVEY.md §2.2–§2.7 operator inventory, re-expressed over the driver's
  * TPC-H-ish tables so every predicate/join/aggregate/window/sort/set-op form
  * the reference uses is exercised by a DuckDB-verifiable query.
  *
  * Reference sites are cited per query. All joins here are catalog-shaped
  * (small dims) → Spark broadcasts them automatically; the big fact-table
  * sides (lineitem/orders/events) keep the shuffle-free scan. Every query
  * ends in ORDER BY for deterministic compare; money math goes through
  * exact decimal sums (see [[graft.functions.Portable]]).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- P1-P10
    // P1 equality / inequality (migration.py:325,925)
    QueryDef(
      "p1_compare",
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus != 'O' AND o_totalprice > 100000.0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "O" && col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // P2 IN / NOT IN lists (migration.py:651,931)
    QueryDef(
      "p2_in_list",
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // P3 LIKE / NOT LIKE (migration.py:701,962,1691)
    QueryDef(
      "p3_like",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name LIKE '%a%' AND p_type NOT LIKE 'SMALL%'
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%a%") && !col("p_type").like("SMALL%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // P4 LIKE … ESCAPE '\' (migration.py:736,746 — `'_sap\_%' ESCAPE '\'`)
    QueryDef(
      "p4_like_escape",
      """SELECT doc_id, source FROM documents
        |WHERE (source || '_' || lang) LIKE 'src1\_%' ESCAPE '\'
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(concat(col("source"), lit("_"), col("lang")).like("src1\\_%"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // P5 lower/upper/trim scalar funcs (migration.py:651,925; common.py:342)
    QueryDef(
      "p5_scalar_funcs",
      """SELECT lower(p_brand) AS brand_lc, upper(p_type) AS type_uc, count(*) AS n
        |FROM part WHERE trim(p_brand) = p_brand
        |GROUP BY 1, 2 ORDER BY brand_lc, type_uc""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(trim(col("p_brand")) === col("p_brand"))
        .groupBy(lower(col("p_brand")).as("brand_lc"), upper(col("p_type")).as("type_uc"))
        .agg(count(lit(1)).as("n"))
        .orderBy("brand_lc", "type_uc")
    },

    // P6 CASE WHEN (pre_migration.py:206; migration.py:2262)
    QueryDef(
      "p6_case_when",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN 'finished'
        |       WHEN o_orderstatus = 'O' THEN 'open'
        |       ELSE 'partial' END AS status_word
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("partial").as("status_word"))
        .orderBy("o_orderkey")
    },

    // P7 string concat + string(rowid()) surrogate (migration.py:2262,2290):
    // the reference builds LOB filenames as '<tid>_row' + string(rowid(t)).
    QueryDef(
      "p7_concat_rowid",
      """SELECT CAST(n_nationkey AS VARCHAR) || '_row_' || n_name AS rowtag
        |FROM nation ORDER BY rowtag""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .select(concat(col("n_nationkey").cast("string"), lit("_row_"), col("n_name")).as("rowtag"))
        .orderBy("rowtag")
    },

    // P8 engine property scalars (db_property/db_name/@@version,
    // common.py:249,334,338; migration.py:327,357) — a one-row property relation.
    QueryDef(
      "p8_properties",
      """SELECT 'graft' AS engine_name, 'UTF-8' AS charset,
        |       'spark' AS server_kind, 1 AS is_coordinator""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq(("graft", "UTF-8", "spark", 1))
        .toDF("engine_name", "charset", "server_kind", "is_coordinator")
    },

    // P9 conjunction of many predicates (migration.py:1691, the central
    // table-inventory filter: table_type/server_type/is_rlv/owner exclusions)
    QueryDef(
      "p9_conjunction",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_returnflag = 'N' AND l_linestatus = 'O'
        |  AND l_quantity > 10.0 AND l_discount < 0.05
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "N" && col("l_linestatus") === "O" &&
          col("l_quantity") > 10.0 && col("l_discount") < 0.05 &&
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P10 word-boundary case-insensitive regex (migration.py:1013,1125)
    QueryDef(
      "p10_regex_word_boundary",
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(text, '(?i)\bspark\b')
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").rlike("(?i)\\bspark\\b"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // JSON scalar extraction (§2.8: the engine-side from_json path)
    QueryDef(
      "ev1_json_props",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // ---------------------------------------------------------------- J1-J12
    // J1 SYSTABLE⋈SYSUSER analog: 2-way equi + filter; dim is broadcast.
    QueryDef(
      "j1_equi_join",
      """SELECT c_custkey, n_name FROM customer JOIN nation
        |ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 0.0 ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("c_acctbal") > 0.0)
        .select("c_custkey", "n_name")
        .orderBy("c_custkey")
    },

    // J2 SYSINDEX⋈SYSTABLE analog (migration.py:663)
    QueryDef(
      "j2_fact_dim_join",
      """SELECT p_brand, count(*) AS n_lines FROM lineitem JOIN part
        |ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    },

    // J3 aliased self-join ×2 (SYSDEPENDENCY⋈systab⋈systab, migration.py:677)
    QueryDef(
      "j3_self_join",
      """SELECT a.n_name AS dep_name, b.n_name AS ref_name
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |ORDER BY dep_name, ref_name""".stripMargin) { (s, dir) =>
      val n = t(s, dir, "nation")
      n.as("a").join(n.as("b"),
          col("a.n_regionkey") === col("b.n_regionkey") &&
            col("a.n_nationkey") < col("b.n_nationkey"))
        .select(col("a.n_name").as("dep_name"), col("b.n_name").as("ref_name"))
        .orderBy("dep_name", "ref_name")
    },

    // J4 3-way master inventory join (migration.py:1691)
    QueryDef(
      "j4_three_way_join",
      """SELECT r_name, n_name, count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name").agg(count(lit(1)).as("n_cust"))
        .orderBy("r_name", "n_name")
    },

    // J5 4-way per-table column lookup analog (migration.py:2115,2251)
    QueryDef(
      "j5_four_way_join",
      """SELECT n_name, o_orderpriority, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, o_orderpriority
        |ORDER BY n_name, o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("n_name", "o_orderpriority")
    },

    // J6 3-way capability chain analog (migration.py:951)
    QueryDef(
      "j6_chain_join",
      """SELECT r_name, count(*) AS n_supp
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_supp"))
        .orderBy("r_name")
    },

    // J7 KEY JOIN expanded to explicit FK equi-join (migration.py:876)
    QueryDef(
      "j7_key_join",
      """SELECT o_orderkey, c_name FROM orders JOIN customer
        |ON o_custkey = c_custkey
        |WHERE o_totalprice > 300000.0 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("o_totalprice") > 300000.0)
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    },

    // J8 local-vs-remote reconciliation: two derivations of the same keyed
    // quantity, full-outer matched, mismatches surfaced
    // (load_schema_and_data.py:380-395).
    QueryDef(
      "j8_size_reconcile",
      """WITH loc AS (
        |  SELECT l_orderkey AS k, count(*) AS n FROM lineitem
        |  WHERE l_linenumber % 2 = 0 GROUP BY 1),
        |rem AS (
        |  SELECT l_orderkey AS k, count(*) AS n FROM lineitem
        |  WHERE l_linenumber % 2 = 1 GROUP BY 1)
        |SELECT
        |  count(*) AS n_keys,
        |  CAST(sum(CASE WHEN loc.n = rem.n THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |FROM loc FULL OUTER JOIN rem ON loc.k = rem.k""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val loc = li.filter(col("l_linenumber") % 2 === 0)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("n"))
      val rem = li.filter(col("l_linenumber") % 2 === 1)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("n"))
      loc.as("loc").join(rem.as("rem"), col("loc.k") === col("rem.k"), "full_outer")
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("loc.n") === col("rem.n"), 1).otherwise(0)).as("n_matched"))
    },

    // J9 anti-join resume delta (migration.py:1977,2675; the Python
    // `[x for x in A if x not in B]`)
    QueryDef(
      "j9_anti_join",
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // J10 semi-join intersection (migration.py:1031; pre_migration.py:666)
    QueryDef(
      "j10_semi_join",
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // J11 LOGINPOLICY⋈OPTION analog with NOT IN exclusion (migration.py:974)
    QueryDef(
      "j11_exclusion_join",
      """SELECT c_custkey, count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type NOT IN ('error')
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .filter(!col("event_type").isin("error"))
        .join(t(s, dir, "customer"), col("user_id") === col("c_custkey"))
        .groupBy("c_custkey").agg(count(lit(1)).as("n_events"))
        .orderBy("c_custkey")
    },

    // J12 FK-presence flag via join+count (migration.py:1319,1709)
    QueryDef(
      "j12_fk_flag",
      """SELECT has_lines, count(*) AS n_orders FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |         THEN 1 ELSE 0 END AS has_lines
        |  FROM orders) GROUP BY has_lines ORDER BY has_lines""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val withLines = t(s, dir, "lineitem").select(col("l_orderkey")).distinct()
      o.join(withLines, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(when(col("l_orderkey").isNotNull, 1).otherwise(0).as("has_lines"))
        .groupBy("has_lines").agg(count(lit(1)).as("n_orders"))
        .orderBy("has_lines")
    },

    // ----------------------------------------------------------------- A1-A7
    // A1 count(*) over filtered join (≈30 sites, e.g. pre_migration.py:240)
    QueryDef(
      "a1_count_filtered",
      """SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F' AND l_quantity > 25.0""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderstatus") === "F" && col("l_quantity") > 25.0)
        .agg(count(lit(1)).as("n"))
    },

    // A3 sum(width)·count sizing (migration.py:1704-1706) — see Inventory for
    // the full slice; here the bare grouped-sum form.
    QueryDef(
      "a3_grouped_sum",
      "SELECT l_returnflag, " + sqlDsum("l_quantity") + " AS sum_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag").agg(dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // A4 GROUP BY used as distinct (migration.py:957)
    QueryDef(
      "a4_group_as_distinct",
      "SELECT c_mktsegment FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment") { (s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_mktsegment").agg(count(lit(1)))
        .select("c_mktsegment")
        .orderBy("c_mktsegment")
    },

    // A5 max + ceil-to-GB (migration.py:2841-2859)
    QueryDef(
      "a5_max_ceil",
      """SELECT CAST(max(o_totalprice) AS DOUBLE) AS max_price,
        |       CAST(ceil(max(o_totalprice) / 1024.0) AS BIGINT) AS max_kunits
        |FROM orders""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .agg(
          max(col("o_totalprice")).cast("double").as("max_price"),
          ceil(max(col("o_totalprice")) / 1024.0).cast("long").as("max_kunits"))
    },

    // A6 list(set(x)) dedup (pre_migration.py:666,713)
    QueryDef(
      "a6_distinct",
      "SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders ORDER BY 1, 2") { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderpriority", "o_orderstatus").distinct()
        .orderBy("o_orderpriority", "o_orderstatus")
    },

    // A7 unit-suffix decode + usage-weighted sum (pre_migration.py:152-174):
    // CASE-chain multiplier per event_type, weighted by value.
    QueryDef(
      "a7_weighted_unit_sum",
      "SELECT " + sqlDsum(
        """value * (CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 1024
          | WHEN 'purchase' THEN 1048576 ELSE 0 END)""".stripMargin.replace("\n", ""), 4) +
        " AS weighted_bytes FROM events") { (s, dir) =>
      t(s, dir, "events")
        .select((col("value") *
          when(col("event_type") === "click", 1)
            .when(col("event_type") === "view", 1024)
            .when(col("event_type") === "purchase", 1048576)
            .otherwise(0)).as("wb"))
        .agg(dsum(col("wb"), 4).as("weighted_bytes"))
    },

    // ----------------------------------------------------------------- W (2.5)
    // W1 row_number per group — the "line number within statement" primitive.
    QueryDef(
      "w1_row_number",
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("rn", col("rn").cast("long"))
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    },

    // W2 running marker count — the C1 statement-segmentation primitive
    // (migration.py:1126-1145: stmt id = running count of 'go' lines).
    // Two-phase distributed prefix sum, NOT a global unpartitioned window:
    // phase 1 computes the running sum inside fixed-width event_id buckets
    // (each a bounded window partition), phase 2 cumulates the per-bucket
    // totals (a window over n/W rows, broadcast back). The single-partition
    // form is correct only for MB-sized scripts (the rewriter segments its
    // script on the driver); over an SF-scaling table it must distribute
    // like this.
    QueryDef(
      "w2_running_segment_id",
      """SELECT event_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    OVER (ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment_id
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bucketWidth = 4096L
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("clk"))
        .withColumn("bkt", (col("event_id") / bucketWidth).cast("long"))
      val inBucket = Window.partitionBy("bkt").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bucketOffsets = ev.groupBy("bkt").agg(sum("clk").as("tot"))
        .withColumn("off", coalesce(
          sum("tot").over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "off")
      ev.withColumn("run", sum("clk").over(inBucket))
        .join(broadcast(bucketOffsets), Seq("bkt"))
        .select(col("event_id"), (col("run") + col("off")).as("segment_id"))
        .orderBy("event_id")
    },

    // W5: per-key top-k through the CUSTOM TopKPerKey operator stack
    // (logical node → strategy → partial+final heap execs) — the custom
    // Catalyst path itself sits behind the DuckDB oracle gate. The kept SET
    // is deterministic by construction: both engines break o_totalprice
    // ties by o_orderkey ASC (operator: struct-desc of (price, -orderkey);
    // oracle: the explicit window ORDER BY), so the gate stays valid even
    // on a regenerated fixture with tied prices.
    QueryDef(
      "w5_topk_per_key",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
      graft.plans.TopK.perKey(
          t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq("o_custkey"), "o_totalprice", k = 3,
          tiebreak = Seq(-col("o_orderkey")))
        .orderBy(asc("o_custkey"), desc("o_totalprice"), asc("o_orderkey"))
    },

    // W3 sessionization via lag + gap (>1h) — running-state analog of the
    // reference's resumable progress accounting; windows at scale partition
    // by user so state stays distributed.
    QueryDef(
      "w3_sessionize",
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR epoch_us(CAST(ts AS TIMESTAMP)) -
        |                 epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
        |                 > 3600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 3600000000L, 1).otherwise(0))
        .groupBy("user_id").agg(sum(col("new_session")).cast("long").as("n_sessions"))
        .orderBy("user_id")
    },

    // W4: RANGE-frame moving aggregate (1h trailing window per user).
    QueryDef(
      "w4_range_frame",
      """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4)))
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_value
        |FROM events ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0)
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("value").cast(DecimalType(18, 4)).as("v"))
        .withColumn("moving_value", sum(col("v")).over(w).cast("double"))
        .select("user_id", "ts_us", "event_id", "moving_value")
        .orderBy("user_id", "ts_us", "event_id")
    },

    // A10: ROLLUP grouping sets (subtotal + grand-total rows).
    QueryDef(
      "a10_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // A12: pivoted conditional counts (linestatus columns per returnflag).
    QueryDef(
      "a12_pivot",
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"))
        .orderBy("l_returnflag")
    },

    // A11: CUBE grouping sets — every subtotal combination including the
    // cross-margins ROLLUP can't express (extension family beside a10/a12).
    QueryDef(
      "a11_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // A14: explicit GROUPING SETS — arbitrary subtotal combinations beyond
    // what rollup/cube enumerate (here: per-flag, per-status, grand total).
    // Goes through spark.sql: the grouping-sets form is SQL-only surface.
    QueryDef(
      "a14_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },

    // W6: rank-family window functions — ntile buckets and percent_rank
    // over the per-customer spend ordering (rounded before compare; ntile
    // and the rank fraction are integer-deterministic).
    QueryDef(
      "w6_ntile",
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, quartile, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .orderBy("o_custkey", "quartile", "o_orderkey")
    },

    // ----------------------------------------------------------------- O1-O5
    // O1/O2 sort desc/asc before planning (migration.py:1656-1662,1754)
    QueryDef(
      "o1_sort_desc",
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders
        |ORDER BY price DESC, o_orderkey LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price"))
        .orderBy(desc("price"), asc("o_orderkey"))
        .limit(20)
    },

    QueryDef(
      "o2_sort_asc",
      """SELECT p_partkey, p_size FROM part
        |ORDER BY p_size ASC, p_partkey LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select("p_partkey", "p_size")
        .orderBy(asc("p_size"), asc("p_partkey"))
        .limit(20)
    },

    // O5 last-line sentinel (migration.py:1301-1310): max-key row fetch.
    QueryDef(
      "o5_last_sentinel",
      """SELECT event_id, event_type FROM events
        |ORDER BY event_id DESC LIMIT 1""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select("event_id", "event_type")
        .orderBy(desc("event_id"))
        .limit(1)
    },

    // ----------------------------------------------------------------- E1-E3
    // E1 difference / resume delta (migration.py:1977)
    QueryDef(
      "e1_except",
      """SELECT o_orderkey FROM orders
        |EXCEPT SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.select("o_orderkey")
        .except(o.filter(col("o_orderstatus") === "O").select("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // E2 intersection (migration.py:1033)
    QueryDef(
      "e2_intersect",
      """SELECT c_nationkey AS k FROM customer
        |INTERSECT SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("k"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
    },

    // E3 union of per-batch outputs (migration.py:3031-3046)
    QueryDef(
      "e3_union_batches",
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 2)
        |GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      val batches = (0 to 2).map(i => o.filter(col("k") % 3 === i))
      batches.reduce(_.unionByName(_))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    }
  )
}
