package migbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure hash of (seed, column tag,
  * row id), so one seed always yields the same tables, byte for byte, and
  * generation is a map-only Spark job.
  *
  * Canonical tables carry the schemas of the testdata tiers (TESTDATA.md; the
  * premigration checks read them by name); `extras` adds scalar tables with
  * skewed sizes, dealt to the names by the seed; `lobCells` adds a table
  * with a binary column holding exactly that many non-null cells. */
object Gen {

  final case class Spec(sf: Double, extras: Int, lobCells: Int)

  /** Name of the LOB-bearing table. */
  val LobTable = "xlob"

  final case class Table(name: String, bytes: Long, digest: Digest) {
    def rows: Long = digest.rows
  }

  private val Two52 = (1L << 52).toDouble

  private def u(seed: Long, tag: String, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(1L << 52)).cast("double") / lit(Two52)

  private def below(seed: Long, tag: String, id: Column, n: Long): Column =
    floor(u(seed, tag, id) * n).cast("long")

  private def pick(seed: Long, tag: String, id: Column, opts: Seq[String]): Column =
    element_at(array(opts.map(lit): _*), below(seed, tag, id, opts.size).cast("int") + 1)

  private def money(seed: Long, tag: String, id: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, tag, id) * (hi - lo), 2)

  private def stamp(seed: Long, tag: String, id: Column, fromSec: Long, spanSec: Long,
      granularitySec: Long = 0L): Column = {
    val off = below(seed, tag, id, spanSec * 1000000L)
    val snapped = if (granularitySec > 0) off - pmod(off, lit(granularitySec * 1000000L)) else off
    timestamp_micros(lit(fromSec * 1000000L) + snapped)
  }

  private def keyName(prefix: String, id: Column): Column =
    concat(lit(prefix), lpad(id.cast("string"), 9, "0"))

  private val Words = Seq("spark", "table", "data", "row", "column", "merge", "join",
    "filter", "batch", "value", "key", "part", "line", "sort", "agg", "slow", "fast",
    "small", "big", "vector", "query", "group", "customer", "the", "a")

  private def rows(base: Double, sf: Double): Long = math.max(1L, math.round(base * sf))

  /** The canonical tables at scale `sf`: name -> frame builder. */
  private def canonical(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    val nCust = rows(150000, sf); val nSupp = rows(10000, sf); val nPart = rows(200000, sf)
    val nOrd = rows(1500000, sf)
    def range(n: Long) = spark.range(n).withColumnRenamed("id", "i")
    val i = col("i")
    val y1992 = 694224000L; val y2024 = 1704067200L
    Seq(
      "region" -> range(5).select(i.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          i.cast("int") + 1).as("r_name")),
      "nation" -> range(25).select(i.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), i.cast("string")).as("n_name"),
        pmod(i, lit(5)).cast("int").as("n_regionkey")),
      "customer" -> range(nCust).select(i.as("c_custkey"), keyName("Customer#", i).as("c_name"),
        below(seed, "c_nat", i, 25).cast("int").as("c_nationkey"),
        money(seed, "c_bal", i, -999.99, 9999.99).as("c_acctbal"),
        pick(seed, "c_seg", i, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range(nSupp).select(i.as("s_suppkey"), keyName("Supplier#", i).as("s_name"),
        below(seed, "s_nat", i, 25).cast("int").as("s_nationkey"),
        money(seed, "s_bal", i, -999.99, 9999.99).as("s_acctbal")),
      "part" -> range(nPart).select(i.as("p_partkey"),
        concat(pick(seed, "p_adj", i, Seq("cold", "small", "large", "shiny", "plain")), lit(" "),
          pick(seed, "p_noun", i, Seq("widget", "gadget", "bolt", "gear", "panel"))).as("p_name"),
        concat(lit("Brand#"), (below(seed, "p_brand", i, 55) + 1).cast("string")).as("p_brand"),
        pick(seed, "p_type", i, Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")).as("p_type"),
        (below(seed, "p_size", i, 50) + 1).cast("int").as("p_size"),
        money(seed, "p_price", i, 900.0, 2000.0).as("p_retailprice")),
      "orders" -> range(nOrd).select(i.as("o_orderkey"), below(seed, "o_cust", i, nCust).as("o_custkey"),
        pick(seed, "o_status", i, Seq("F", "O", "P")).as("o_orderstatus"),
        money(seed, "o_price", i, 1000.0, 400000.0).as("o_totalprice"),
        stamp(seed, "o_date", i, y1992, 7L * 365 * 86400, 86400).as("o_orderdate"),
        pick(seed, "o_prio", i, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(rows(6000000, sf)).select(
        below(seed, "l_ord", i, nOrd).as("l_orderkey"), below(seed, "l_part", i, nPart).as("l_partkey"),
        below(seed, "l_supp", i, nSupp).as("l_suppkey"),
        (below(seed, "l_line", i, 7) + 1).cast("int").as("l_linenumber"),
        (below(seed, "l_qty", i, 50) + 1).cast("double").as("l_quantity"),
        money(seed, "l_ext", i, 900.0, 100000.0).as("l_extendedprice"),
        round(u(seed, "l_disc", i) * 0.1, 2).as("l_discount"),
        round(u(seed, "l_tax", i) * 0.08, 2).as("l_tax"),
        pick(seed, "l_rf", i, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, "l_ls", i, Seq("O", "F")).as("l_linestatus"),
        stamp(seed, "l_ship", i, y1992, 7L * 365 * 86400, 86400).as("l_shipdate")),
      "events" -> range(rows(1000000, sf)).select(i.as("event_id"),
        stamp(seed, "e_ts", i, y2024, 30L * 86400).as("ts"),
        below(seed, "e_user", i, math.max(20L, rows(100000, sf))).as("user_id"),
        pick(seed, "e_type", i, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
        money(seed, "e_val", i, 0.0, 500.0).as("value"),
        concat(lit("{\"k\": "), below(seed, "e_k", i, 100).cast("string"), lit("}")).as("props")),
      "documents" -> range(math.max(500L, rows(50000, sf))).select(i.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (below(seed, "d_len", i, 90) + 8).cast("int")),
          w => element_at(array(Words.map(lit): _*),
            (pmod(xxhash64(lit(seed), lit("d_w"), i, w), lit(Words.size.toLong)) + 1).cast("int"))))
          .as("text"),
        pick(seed, "d_lang", i, Seq("en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), below(seed, "d_src", i, 20).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> range(math.max(500L, rows(20000, sf))).select(i.as("vec_id"),
        array((0 until 64).map(j => (u(seed, s"v$j", i) * 2 - 1).cast("float")): _*)
          .as("embedding"),
        below(seed, "v_label", i, 10).cast("int").as("label")))
  }

  /** Extra scalar tables with skewed sizes: the n quantiles of a
    * log-uniform distribution over [100, 20000) rows, two to six columns
    * growing with size. The seed deals these shapes out to the table names,
    * so total rows stay the same from seed to seed. */
  private def extras(spark: SparkSession, seed: Long, n: Int): Seq[(String, DataFrame)] = {
    val ranks = new scala.util.Random(seed * 7919L + 17L).shuffle((0 until n).toList)
    ranks.zipWithIndex.map { case (rank, idx) =>
      val t = idx + 1
      val nRows = (100 * math.pow(200.0, (rank + 0.5) / n)).toLong
      val i = col("id")
      val cols = Seq(
        below(seed, s"x${t}k", i, 1000).cast("int").as("k"),
        money(seed, s"x${t}a", i, -5000.0, 5000.0).as("amount"),
        pick(seed, s"x${t}l", i, Seq("alpha", "beta", "gamma", "delta")).as("label"),
        stamp(seed, s"x${t}t", i, 1577836800L, 365L * 86400).as("ts"),
        concat(lit("note "), sha2(concat(lit(seed), lit(t), i.cast("string")), 256)).as("note"))
      f"x$t%02d" -> spark.range(nRows).select(i +: cols.take(1 + rank % 5): _*)
    }
  }

  /** A LOB-bearing table: `cells` + cells/5 rows, a seed-chosen fifth of
    * them NULL, so exactly `cells` non-null binary cells of 64 B to 4 KiB. */
  private def lob(spark: SparkSession, seed: Long, cells: Int): DataFrame = {
    val nRows = cells + cells / 5
    val r = new scala.util.Random(seed * 31L + 7L)
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val a = Iterator.continually(1L + r.nextInt(nRows - 1)).find(gcd(_, nRows) == 1).get
    val b = r.nextInt(nRows).toLong
    val i = col("id")
    val payload = unhex(repeat(sha2(concat(lit(seed), i.cast("string")), 256),
      (below(seed, "lob_len", i, 64) + 1).cast("int")))
    spark.range(nRows).select(i,
      concat(lit("doc-"), i.cast("string")).as("title"),
      when(pmod(i * a + b, lit(nRows.toLong)) >= nRows - cells, payload).as("payload"))
  }

  /** Write the inputs of `spec` under `dir` (one `<name>.parquet` per table,
    * a single file each, timestamps as TIMESTAMP_MICROS like the testdata),
    * digesting each table in the job that writes it. */
  def generate(spark: SparkSession, seed: Long, spec: Spec, dir: String): Seq[Table] = {
    val frames = canonical(spark, seed, spec.sf) ++ extras(spark, seed, spec.extras) ++
      (if (spec.lobCells > 0) Seq(LobTable -> lob(spark, seed, spec.lobCells)) else Nil)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try Par.map(frames) { case (name, df) =>
      val path = s"$dir/$name.parquet"
      val obs = org.apache.spark.sql.Observation()
      val aggs = Digest.aggregates(df.schema)
      df.observe(obs, aggs.head, aggs.tail: _*).coalesce(1).write.parquet(path)
      val m = obs.get
      Table(name, Files.visibleBytes(path), Digest.of(m("rows").asInstanceOf[Long],
        m("hash_sum").asInstanceOf[java.math.BigDecimal]))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Schemas of the testdata tiers (TESTDATA.md), which the canonical tables keep. */
  val CanonicalDdl: Map[String, String] = Map(
    "region" -> "r_regionkey INT,r_name STRING",
    "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer" -> "c_custkey BIGINT,c_name STRING,c_nationkey INT,c_acctbal DOUBLE,c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,p_size INT," +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,o_totalprice DOUBLE," +
      "o_orderdate TIMESTAMP,o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,l_linenumber INT," +
      "l_quantity DOUBLE,l_extendedprice DOUBLE,l_discount DOUBLE,l_tax DOUBLE," +
      "l_returnflag STRING,l_linestatus STRING,l_shipdate TIMESTAMP"),
    "events" -> "event_id BIGINT,ts TIMESTAMP,user_id BIGINT,event_type STRING,value DOUBLE,props STRING",
    "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT")
}
