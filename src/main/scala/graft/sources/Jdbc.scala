package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, SQLException}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** S1/S16 live mode: JDBC source + sink (SURVEY §2.1).
  *
  * The reference's entire ingestion is a live server connection
  * (`/root/reference/Migration/migration.py:316-337`, `Common/common.py:
  * 221-247` — pyodbc over an IQ DSN) and its load phase writes back through
  * the same connection (`Migration/load_schema_and_data.py:295-299`). The
  * Spark-native equivalent is the JDBC data source: `spark.read.jdbc` for
  * catalog/table ingestion, `df.write.jdbc` for load — parquet fixtures
  * remain the default (test) mode, this is the live path.
  *
  * Scale shape: a single-partition JDBC read is a one-connection funnel, so
  * [[readPartitioned]] exposes the partitionColumn/bounds form — Spark opens
  * `numPartitions` parallel connections each scanning a key range, which is
  * how a 100 TB table actually leaves a server. Predicates/column pruning
  * push into the remote query (JDBCRelation builds WHERE/SELECT lists).
  *
  * Catalog-sized questions (counts, key bounds, table listing, DDL) are
  * not Spark jobs: each one is a plain query on one
  * driver-side connection ([[query]]), the way the reference asks its
  * servers over a pyodbc cursor (`migration.py:1699,1704-1706`,
  * `load_table.sh:36-87`).
  *
  * The sandbox has no server, so specs run against embedded Derby (in
  * `/opt/spark/jars`, started in-process via the jdbc:derby: URL).
  */
object Jdbc {

  /** Keep Derby's log out of the working directory (it writes derby.log
    * into user.dir by default). Idempotent. */
  private lazy val quietDerby: Unit = {
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        System.getProperty("java.io.tmpdir") + "/derby.log")
  }

  /** Shared connection properties for EVERY JDBC entry point — credentials
    * or a driver class would land here. The options-based readers apply the
    * same map ([[readPartitionedTime]]) so no live-mode path diverges. */
  private def propsMap: Map[String, String] = Map.empty

  private def props(extra: (String, String)*): Properties = {
    val p = new Properties()
    (propsMap ++ extra).foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Live-mode table read: one connection, full scan. */
  def read(spark: SparkSession, url: String, table: String): DataFrame = {
    quietDerby
    spark.read.jdbc(url, table, props())
  }

  /** Parallel live-mode read: `numPartitions` range-partitioned connections
    * over `partitionCol` ∈ [lower, upper] — the form that scales. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long,
      numPartitions: Int): DataFrame = {
    quietDerby
    spark.read.jdbc(url, table, partitionCol, lower, upper, numPartitions, props())
  }

  /** One connection for the duration of `f`, opened with the same
    * properties as every Spark-side read and write. */
  private[graft] def withConnection[A](url: String)(f: Connection => A): A = {
    quietDerby
    val conn = DriverManager.getConnection(url, props())
    try f(conn) finally conn.close()
  }

  /** Run one query on `conn` and hand its result set to `read`. */
  private[graft] def query[A](conn: Connection, sql: String)(read: ResultSet => A): A = {
    val st = conn.createStatement()
    try read(st.executeQuery(sql)) finally st.close()
  }

  private def query[A](url: String, sql: String)(read: ResultSet => A): A =
    withConnection(url)(query(_, sql)(read))

  /** `SELECT MIN(key), MAX(key)`, or None when either is NULL (an empty
    * table, or a key that is NULL in every row). */
  private def minMax[A](url: String, table: String, keySql: String)(
      get: (ResultSet, Int) => A): Option[(A, A)] =
    query(url, s"SELECT MIN($keySql), MAX($keySql) FROM $table") { rs =>
      rs.next()
      for (lo <- Option(get(rs, 1)); hi <- Option(get(rs, 2))) yield (lo, hi)
    }

  private def countOn(conn: Connection, table: String, where: String = ""): Long =
    query(conn, s"SELECT COUNT(*) FROM $table$where") { rs => rs.next(); rs.getLong(1) }

  /** Server-side COUNT(*) — one number crosses the connection. */
  def count(url: String, table: String): Long =
    withConnection(url)(countOn(_, table))

  /** Server-side [min, max] bounds of one integral-valued column. */
  def bounds(url: String, table: String, column: String): Option[(Long, Long)] =
    // quote the column: Spark's JDBC writer creates case-preserved quoted
    // identifiers, so an unquoted reference would case-fold past them
    minMax(url, table, s""""$column"""")(_.getObject(_).asInstanceOf[Number])
      .map { case (lo, hi) => (lo.longValue(), hi.longValue()) }

  /** The SQL key expression a string partition key is read and compared
    * through: an ANSI CAST to bounded VARCHAR. Two reasons: (a) engines
    * store unbounded strings as LOB types that reject MIN/MAX and `<`
    * outright (Spark's own Derby dialect writes StringType as CLOB), and
    * (b) it bounds the boundary literals. Truncation at 128 chars can only
    * skew partition BALANCE (rows sharing a 128-char prefix collapse to one
    * truncated value), never correctness: every row has exactly one
    * truncated key value, and the predicates partition that value space
    * exactly once. */
  private def strKeySql(column: String): String =
    s"""CAST("$column" AS VARCHAR(128))"""

  /** Server-side [min, max] of a DATE/TIMESTAMP column, returned in the
    * `java.sql` string forms Spark's options-based partitioner parses
    * (`yyyy-MM-dd[ HH:mm:ss.f…]`). */
  def timeBounds(url: String, table: String, column: String): Option[(String, String)] =
    minMax(url, table, s""""$column"""")(_.getObject(_))
      .map { case (lo, hi) => (lo.toString, hi.toString) }

  /** Parallel live-mode read range-partitioned on a DATE/TIMESTAMP key —
    * the options form of the JDBC source, which (unlike the Long-bounds
    * method) accepts temporal bounds as strings. Same shape as
    * [[readPartitioned]]: `numPartitions` connections, each scanning one
    * time slice. */
  def readPartitionedTime(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: String, upper: String,
      numPartitions: Int): DataFrame = {
    quietDerby
    spark.read.format("jdbc")
      .options(propsMap) // same connection properties as every other entry point
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionCol)
      .option("lowerBound", lower)
      .option("upperBound", upper)
      .option("numPartitions", numPartitions.toString)
      .load()
  }

  /** Server-side [min, max] of a string-comparable key EXPRESSION — same
    * single-row shape as [[bounds]]. `keySql` is the verbatim SQL the key
    * is read through ([[strKeySql]] / [[decKeySql]]'s LOB-safe casts). */
  def stringBounds(url: String, table: String, keySql: String): Option[(String, String)] =
    minMax(url, table, keySql)(_.getString(_))

  /** Per-partition WHERE predicates that split a STRING key's [lo, hi]
    * lexicographically — the parallel-read path for tables with NO integral
    * column. The reference extracts every table at parallel degree 64
    * regardless of key shape (`/root/reference/Migration/migration.py:
    * 2145,2183`); a one-connection funnel on a 100 TB string-keyed table is
    * exactly what live mode exists to avoid.
    *
    * Boundaries are interpolated in the UTF-16 code-unit space of the first
    * `depth` chars after the min/max common prefix. They steer only BALANCE;
    * partition-union correctness needs just a consistently ORDERED boundary
    * list (each row matches exactly one range for any total order the engine
    * applies consistently), which the sort below guarantees under binary-ish
    * collations (Derby UCS_BASIC). A case-folding server collation that
    * orders the boundary literals differently than the driver's UTF-16 sort
    * COULD double- or zero-count boundary rows — which is why [[readAuto]]
    * reconciles every predicated read against server-side counts
    * ([[predicatesCoverExactly]]) and falls back to the one-connection read
    * on mismatch, instead of letting a duplicated extract legitimize itself
    * through the manifest. NULL keys ride the first partition. `keySql` is
    * the verbatim SQL expression the key is compared through (a quoted
    * column, or [[strKeySql]]'s LOB-safe cast). */
  def stringRangePredicates(keySql: String, lo: String, hi: String,
      n: Int, depth: Int = 3): Seq[String] = {
    require(n > 0 && depth > 0)
    if (lo >= hi || n == 1) return Seq.empty
    val quoted = keySql
    def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
    val cp = lo.zip(hi).takeWhile { case (a, b) => a == b }.size
    val prefix = lo.take(cp)
    val base = BigInt(65536)
    def value(s: String): BigInt =
      (0 until depth).map { i =>
        val c = if (cp + i < s.length) s.charAt(cp + i).toInt else 0
        BigInt(c) * base.pow(depth - 1 - i)
      }.sum
    def toStr(v: BigInt): String =
      prefix + (0 until depth).map { i =>
        val d = ((v / base.pow(depth - 1 - i)) % base).toInt
        // clamp into valid non-surrogate char space: distorts balance a
        // hair on exotic data, never correctness (boundaries stay sorted)
        d.max(1).min(0xD7FF).toChar
      }.mkString
    val (loV, hiV) = (value(lo), value(hi))
    if (hiV <= loV) return Seq.empty
    val cuts = (1 until n).map(i => loV + (hiV - loV) * i / n)
      .map(toStr).distinct.sorted.filter(b => b > lo && b <= hi)
    if (cuts.isEmpty) Seq.empty
    else (s"$quoted < ${sqlLit(cuts.head)} OR $quoted IS NULL") +:
      cuts.sliding(2).collect { case Seq(a, b) =>
        s"$quoted >= ${sqlLit(a)} AND $quoted < ${sqlLit(b)}"
      }.toSeq :+ s"$quoted >= ${sqlLit(cuts.last)}"
  }

  /** Parallel live-mode read over explicit per-partition predicates — one
    * connection per predicate, the JDBC source's disjoint-WHERE form. */
  def readPredicated(spark: SparkSession, url: String, table: String,
      predicates: Seq[String]): DataFrame = {
    quietDerby
    spark.read.jdbc(url, table, predicates.toArray, props())
  }

  /** Server-side reconciliation of a predicate partition: the sum of
    * per-predicate COUNT(*)s must equal the table's COUNT(*).
    * This is the guard the string/decimal range paths run before extracting
    * through predicates: a server collation that orders the boundary
    * literals differently than the driver's sort would make rows match two
    * predicates (extracted twice) or none (lost) — and because the manifest
    * records the observed count and the load verifies against the manifest,
    * that corruption would otherwise survive the whole verification chain.
    * Cost: `predicates.size + 1` single-row queries on one connection,
    * nothing data-sized crosses the wire. */
  private[graft] def predicatesCoverExactly(url: String, table: String,
      predicates: Seq[String]): Boolean =
    withConnection(url) { conn =>
      predicates.map(p => countOn(conn, table, s" WHERE $p")).sum == countOn(conn, table)
    }

  /** The SQL key expression a wide DECIMAL(p>18, 0) partition key is read
    * and compared through: a cast to CHAR, not VARCHAR — SQL's cast matrix
    * (and Derby's enforcement of it) allows numeric→CHAR but not
    * numeric→VARCHAR. Lexicographic order over the cast is NOT numeric
    * order; it doesn't need to be — range-predicate correctness only needs
    * the server to apply one consistent total order to boundaries it
    * computed itself (min/max/interpolations of the same expression), and
    * the count reconciliation guards the rest. 44 chars covers sign + 38
    * digits (the widest DECIMAL Spark models) with headroom. */
  private def decKeySql(column: String): String =
    s"""CAST("$column" AS CHAR(44))"""

  /** Live-mode read that SCALES when it can: picks the table's first
    * integral column as the partition key, fetches its server-side bounds,
    * and opens `numPartitions` range-partitioned connections — the form a
    * large table actually leaves a server by. Key preference when no
    * integral column exists: a DECIMAL(p>18, 0) key (too wide for the
    * long-bounds form) splits into range predicates over its string cast,
    * then a DATE/TIMESTAMP column partitions through the options-based
    * temporal form ([[readPartitionedTime]]), then the first STRING column
    * splits into lexicographic range predicates
    * ([[stringRangePredicates]]); only a table with no splittable key at
    * all (or empty / constant-keyed) falls back to the one-connection read.
    * Every predicated split is reconciled against server-side counts
    * before use ([[predicatesCoverExactly]]) — a collation-order mismatch
    * degrades to the correct one-connection read instead of extracting
    * boundary rows twice. */
  def readAuto(spark: SparkSession, url: String, table: String,
      numPartitions: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val plain = read(spark, url, table)
    def firstCol(p: DataType => Boolean): Option[String] =
      plain.schema.fields.collectFirst { case f if p(f.dataType) => f.name }
    // a predicated split is used only when it parallelizes (>1 predicate)
    // AND the server's counts confirm the predicates partition the table
    def predicated(keySql: String): Option[DataFrame] =
      Some(keySql)
        .flatMap(k => stringBounds(url, table, k).map((k, _)))
        .collect { case (k, (lo, hi)) if lo != hi =>
          stringRangePredicates(k, lo, hi, numPartitions)
        }
        .collect { case preds if preds.size > 1 &&
            predicatesCoverExactly(url, table, preds) =>
          readPredicated(spark, url, table, preds)
        }
    // integral-valued keys include scale-0 decimals that fit a long —
    // NUMERIC(n,0) primary keys are the common shape on the engines the
    // reference migrates from; the range predicates Spark generates for the
    // long bounds compare fine against the decimal column server-side
    val intPart = firstCol {
        case t if Seq(ByteType, ShortType, IntegerType, LongType).contains(t) => true
        case d: DecimalType if d.scale == 0 && d.precision <= 18 => true
        case _ => false
      }
      .flatMap(c => bounds(url, table, c).map((c, _)))
      .collect { case (c, (lo, hi)) if hi > lo =>
        readPartitioned(spark, url, table, c, lo, hi, numPartitions)
      }
    // DECIMAL(p>18, 0) keys overflow the long-bounds form: split on the
    // string-cast key instead of funneling through one connection
    def decPart = firstCol {
        case d: DecimalType if d.scale == 0 && d.precision > 18 => true
        case _ => false
      }.flatMap(c => predicated(decKeySql(c)))
    def timePart = firstCol(t => t == DateType || t == TimestampType)
      .flatMap(c => timeBounds(url, table, c).map((c, _)))
      .collect { case (c, (lo, hi)) if lo != hi =>
        readPartitionedTime(spark, url, table, c, lo, hi, numPartitions)
      }
    def strPart = firstCol(_ == StringType).flatMap(c => predicated(strKeySql(c)))
    intPart.orElse(decPart).orElse(timePart).orElse(strPart).getOrElse(plain)
  }

  /** Live-mode load (C5's write half): append/overwrite into a server table.
    * Overwrite maps to the reference's drop-and-reload
    * (load_schema_and_data.py:295-299). */
  def write(df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    quietDerby
    df.write.mode(mode).jdbc(url, table, props())
  }

  /** An embedded-Derby URL for a throwaway database under `dir`. */
  def derbyUrl(dir: String): String = s"jdbc:derby:$dir/graftdb;create=true"

  /** User tables in the connection's CURRENT schema — the live-mode
    * SYSTABLE scan (S1; the reference inventories user tables at
    * migration.py:1691 with system schemas excluded the same way). The
    * current schema is the one every unqualified read, write, rename and
    * count here resolves in, so a same-named table in ANOTHER schema can
    * neither join the inventory nor trigger (or suppress) the load's
    * recovery rename. Falls back to all non-`SYS` schemas only when the
    * driver cannot report its current schema. */
  def listTables(url: String): Seq[String] = withConnection(url)(listTables)
  private[graft] def listTables(conn: Connection): Seq[String] = {
    val schema =
      try Option(conn.getSchema)
      catch { case _: SQLException | _: AbstractMethodError => None }
    val rs = conn.getMetaData.getTables(null, schema.orNull, "%", Array("TABLE"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rs.next()) {
      val schem = Option(rs.getString("TABLE_SCHEM")).getOrElse("")
      if (!schem.toUpperCase.startsWith("SYS")) buf += rs.getString("TABLE_NAME")
    }
    buf.toSeq
  }

  /** Dialect-aware table rename (the promote step's swap): Derby and
    * MySQL/MariaDB speak `RENAME TABLE a TO b`; everything else gets the
    * more widely spoken `ALTER TABLE a RENAME TO b` (PostgreSQL, HANA,
    * Oracle, SQLite…). Routed through the product name because no JDBC
    * metadata capability covers rename syntax. */
  def renameTable(url: String, from: String, to: String): Unit = withConnection(url) { conn =>
    val product = conn.getMetaData.getDatabaseProductName.toLowerCase
    executeOn(conn,
      if (product.contains("derby") || product.contains("mysql") ||
          product.contains("maria")) s"RENAME TABLE $from TO $to"
      else s"ALTER TABLE $from RENAME TO $to")
  }

  /** Live write-probe: CREATE and DROP a real test table through the
    * connection, like the reference's readonly gate (`/root/reference/
    * Migration/migration.py:385-414`) — proves the ENGINE accepts writes,
    * which a directory-permission check cannot. */
  def probeWrite(url: String): Boolean =
    try {
      execute(url, "DROP TABLE graft_write_probe", ignoreMissingTable = true)
      execute(url, "CREATE TABLE graft_write_probe (i INT)")
      execute(url, "DROP TABLE graft_write_probe")
      true
    } catch { case _: SQLException => false }

  /** Run one DDL/DML statement on the live connection (the load phase's
    * promote step needs DROP/RENAME, which the DataFrame writer can't
    * express). `ignoreMissingTable` swallows the missing-table states so
    * drop-if-exists works on engines without IF EXISTS (Derby). */
  def execute(url: String, sql: String, ignoreMissingTable: Boolean = false): Unit =
    withConnection(url)(executeOn(_, sql, ignoreMissingTable))

  private def executeOn(conn: Connection, sql: String,
      ignoreMissingTable: Boolean = false): Unit = {
    val st = conn.createStatement()
    try st.execute(sql)
    catch {
      case e: SQLException
          if ignoreMissingTable && Set("42Y55", "42X05").contains(e.getSQLState) => ()
    } finally st.close()
  }
}
