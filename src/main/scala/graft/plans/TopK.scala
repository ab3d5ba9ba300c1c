package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}

/** User-facing API + session wiring for the [[TopKPerKeyNode]] operator. */
object TopK {

  /** Top `k` rows per key group by `ordCol` (descending by default),
    * executed with bounded per-key heaps instead of a window sort — a
    * map-side partial pass runs before the shuffle, so the exchange carries
    * at most k·keys·partitions rows. NULL order values rank WORST in both
    * directions (nulls-last): a null-ord row is returned only when its
    * group has fewer than k non-null rows.
    *
    * `tiebreak` makes the kept SET deterministic under duplicate ord
    * values: the heap orders by `struct(ordCol, tiebreak…)` compared
    * lexicographically in the `descending` direction — so for a
    * "highest-first with lowest-id tiebreak" top-k pass the NEGATED id
    * (`-col("id")`): struct-desc of (price, -id) = price DESC, id ASC.
    * A nullable ordCol keeps the scalar nulls-last rule in tiebreak mode
    * too: the struct is prefixed with a null flag oriented so null-ord rows
    * rank worst in EITHER direction (struct field order would otherwise
    * rank them by engine-internal null placement). */
  def perKey(df: DataFrame, keyCols: Seq[String], ordCol: String, k: Int,
      descending: Boolean = true,
      tiebreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct}
    val spark = df.sparkSession
    val src =
      if (tiebreak.isEmpty) df
      else {
        // nulls-last in both directions: descending compares the flag 1>0 so
        // non-null (isNotNull=1) wins; ascending compares 0<1 so non-null
        // (isNull=0) wins. Within the null group the ord fields are all null
        // (equal) and the tiebreak decides deterministically.
        val flag = if (descending) col(ordCol).isNotNull else col(ordCol).isNull
        df.withColumn("__graft_ord", struct(flag +: col(ordCol) +: tiebreak: _*))
      }
    val ordName = if (tiebreak.isEmpty) ordCol else "__graft_ord"
    val analyzed = src.queryExecution.analyzed
    def attr(name: String) = analyzed.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    val node = TopKPerKeyNode(keyCols.map(attr), attr(ordName), k, descending, analyzed)
    val out = org.apache.spark.sql.graftbridge.GraftBridge.ofRows(spark, node)
    if (tiebreak.isEmpty) out else out.drop("__graft_ord")
  }

}

/** Session extensions `Engine.session` installs at creation: the
  * [[TopKStrategy]] planner strategy plus the `rolling_hash` and
  * `dot_product` SQL functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => new TopKStrategy)
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.RollingHash].getName, "rolling_hash"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.functions.RollingHash(exprs.head)))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.DotProduct].getName, "dot_product"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          if (exprs.length != 2)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map("functionName" -> "dot_product",
                "expectedNum" -> "2", "actualNum" -> exprs.length.toString,
                "docroot" -> ""))
          graft.functions.DotProduct(exprs.head, exprs(1))
        }))
  }
}
