package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Stage.Staged

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public): compress each vector to
  * `m` sub-codes by running k-means independently in `m` subspaces, then
  * score queries against the CODES via asymmetric distance computation
  * (ADC) — a per-query lookup table of exact sub-dot-products, summed per
  * candidate with zero float math on the corpus side.
  *
  * Why this matters at 100 TB: the raw 64-dim float corpus is 256 B/vector;
  * at m=8, k=16 the codes are 8 nibbles (stored here as 8 small ints —
  * parquet dictionary-encodes them to ~the same) — a ~30-60× smaller scan
  * whose per-candidate cost is m array lookups instead of a dim-length
  * fused multiply-add. The codes table co-partitions with the IVF cell
  * layout, so IVF-PQ composes: partition-pruned probe, then ADC inside the
  * probed cells, exact re-rank only on the short list.
  *
  * Everything is deterministic (hash-seeded k-means like
  * [[Similarity.kmeansCells]], argmin ties to the lower code id); training
  * is one Spark job per Lloyd iteration covering ALL m subspaces at once
  * (the subvector explode rides a single corpus scan), and only m×k×(dim/m)
  * doubles ever reach the driver.
  */
object Pq {

  /** Version tag of the PQ build path, folded into persistent cache keys
    * (see [[Similarity.IvfBuildVersion]] for the rationale). */
  val PqBuildVersion = 2

  /** One codebook entry: subspace, code id, centroid (length dim/m). */
  final case class Codebook(sub: Int, code: Int, centroid: Seq[Double])

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotProduct(a, b)

  /** Codebooks grouped per subspace in (sub, code) order, with the DENSITY
    * guard the flat-LUT layout depends on: [[adcSum]] indexes the flat m·k
    * arrays as `s·k + code`, and [[encode]]'s nested literals index
    * `cents[s][c]` over 0 ≤ c < k — both silently read the WRONG subspace's
    * entry if any per-sub codebook has a missing code id (e.g. an empty
    * cluster from a future training change). Training currently always
    * emits dense 0..k-1 codes per subspace (seeds cover every code; empty
    * cells keep their previous centroid), so this never fires today — it
    * exists to make a violation fail loudly instead of mis-ranking. */
  private[pipeline] def denseBySub(books: Seq[Codebook], m: Int): Seq[Seq[Codebook]] = {
    require(books.nonEmpty, "PQ codebooks must not be empty")
    val k = books.map(_.code).max + 1
    val bySub = books.groupBy(_.sub).toSeq.sortBy(_._1).map(_._2.sortBy(_.code))
    require(bySub.map(_.head.sub) == (0 until m) &&
        bySub.forall(cbs => cbs.map(_.code) == (0 until k)),
      s"PQ codebooks must be DENSE m×k (flat s*k+code indexing): expected " +
        s"every sub in 0..${m - 1} to carry codes 0..${k - 1}, got " +
        bySub.map(cbs => s"sub=${cbs.head.sub}:${cbs.size} codes").mkString(", "))
    bySub
  }

  /** Subvector table: (id, sub, sv) — one row per (vector, subspace),
    * produced by a single generator over the corpus scan. */
  private def subvectors(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int): DataFrame = {
    val subLen = dim / m
    corpus.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(vecCol), s * subLen + 1, lit(subLen)))).as(Seq("sub", "sv")))
  }

  /** Train the m per-subspace codebooks with Lloyd's k-means — ALL
    * subspaces per iteration in one distributed job (assign) plus one
    * re-aggregation (means). Deterministic: per-subspace seeds are the k
    * subvectors of the k smallest-id-hash vectors, ties in the argmin break
    * to the lower code, empty cells keep their previous centroid. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int): Seq[Codebook] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.functions.Portable
    val vsub = graft.core.Engine.spread(
      subvectors(corpus, idCol, vecCol, m, dim), col("id")).stage()
    // seeds: the k lowest-hash vectors donate their subvector to EVERY
    // subspace's codebook. The k-row pick is a TakeOrdered limit (never a
    // global window over the corpus); the row_number window then runs on
    // the k-row result only, and just k×m subvector rows reach the driver.
    val seedDF = broadcast(corpus.select(col(idCol).as("id"))
      .withColumn("h", Portable.hash32(col("id").cast("string")))
      .orderBy("h", "id").limit(k)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("h"), col("id"))) - 1).cast("int"))
      .select("id", "code"))
    var cents: Map[(Int, Int), Seq[Double]] = vsub.join(seedDF, Seq("id"))
      .select(col("sub"), col("code"),
        transform(col("sv"), x => x.cast("double")).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    def centDF = broadcast(cents.toSeq
      .map { case ((s, c), v) => (s, c, v, v.map(x => x * x).sum) }
      .toDF("sub", "code", "cvec", "cnorm2"))
    def assign: DataFrame = vsub.join(centDF, Seq("sub"))
      .withColumn("score", lit(-2.0) * dot(col("sv"), col("cvec")) + col("cnorm2"))
      .groupBy("id", "sub")
      .agg(min(struct(col("score"), col("code"))).as("a"))
      .select(col("id"), col("sub"), col("a.code").as("code"))
    for (_ <- 1 to iters) {
      val next = assign.join(vsub, Seq("id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos").agg(avg(col("x").cast("double")).as("cx"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
        .select(col("sub"), col("code"),
          transform(col("pc"), s => s.getField("cx")).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cents = cents.map { case (key, old) => key -> next.getOrElse(key, old) }
    }
    cents.toSeq.sortBy(_._1).map { case ((s, c), v) => Codebook(s, c, v) }
  }

  /** Build-once cache around [[trainCodebooks]]: codebooks persist as a
    * (tiny) parquet table so repeated invocations — Verify, Bench warm-up +
    * reps — query through the SAME trained books instead of retraining per
    * call; `_SUCCESS` is the completeness sentinel, as with the IVF index
    * cache. */
  def trainCodebooksCached(corpus: => DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int, path: String,
      spark: org.apache.spark.sql.SparkSession): Seq[Codebook] = {
    import spark.implicits._
    if (!new java.io.File(path + "/_SUCCESS").exists())
      trainCodebooks(corpus, idCol, vecCol, m, k, iters, dim)
        .map(b => (b.sub, b.code, b.centroid))
        .toDF("sub", "code", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .collect().map(r => Codebook(r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(b => (b.sub, b.code)).toSeq
  }

  /** Build-once cache around [[encode]]: the codes table persists beside
    * the books (same sentinel), so the bench times ADC over stored codes —
    * the actual query path — not re-encoding the corpus per call. */
  def encodeCached(corpus: => DataFrame, idCol: String, vecCol: String,
      books: => Seq[Codebook], m: Int, dim: Int, path: String,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    if (!new java.io.File(path + "/_SUCCESS").exists())
      encode(corpus, idCol, vecCol, books, m, dim)
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Encode the corpus: (id, codes array<int> of length m) — a SHUFFLE-FREE
    * projection. The codebooks are a plan literal (m·k·(dim/m) doubles —
    * kilobytes), and the per-subspace argmin folds over the k codes inside
    * nested higher-order expressions, so encoding 100 TB is a map-only
    * scan: no subvector explode, no (id, sub) exchange, no collect_list
    * re-assembly (the earlier aggregation form shuffled m× the corpus rows
    * twice). Ties break to the LOWER code id (strict `<` while folding
    * ascending code order), matching the training assign's
    * `min(struct(score, code))` semantics. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Seq[Codebook], m: Int, dim: Int): DataFrame = {
    val subLen = dim / m
    val k = books.map(_.code).max + 1
    // [sub][code] -> centroid / |centroid|², in (sub, code) order;
    // density-guarded — the nested literals are indexed positionally
    val bySub: Seq[Seq[Codebook]] = denseBySub(books, m)
    val cents = typedLit(bySub.map(_.map(_.centroid)))
    val norms = typedLit(bySub.map(_.map(_.centroid.map(x => x * x).sum)))
    val codes = transform(sequence(lit(0), lit(m - 1)), s => {
      val sv = slice(col(vecCol), s * subLen + 1, lit(subLen))
      val scores = transform(sequence(lit(0), lit(k - 1)), c => {
        val cvec = element_at(element_at(cents, s + 1), c + 1)
        lit(-2.0) * aggregate(zip_with(sv, cvec, (x, y) => x * y),
          lit(0.0d), (acc, x) => acc + x) +
          element_at(element_at(norms, s + 1), c + 1)
      })
      // single pass over the scores array with an index-carrying
      // accumulator — each score is computed exactly once
      aggregate(scores,
        struct(lit(Double.MaxValue).as("best"), lit(-1).as("code"), lit(0).as("i")),
        (acc, x) => when(x < acc.getField("best"),
          struct(x.as("best"), acc.getField("i").as("code"),
            (acc.getField("i") + 1).as("i")))
          .otherwise(struct(acc.getField("best").as("best"),
            acc.getField("code").as("code"), (acc.getField("i") + 1).as("i"))))
        .getField("code")
    })
    corpus.select(col(idCol), codes.as("codes"))
  }

  /** ADC top-k: per query build the m×k lookup table of EXACT sub-dot
    * products against the codebooks (driver/broadcast side — m·k doubles
    * per query), then score every candidate as
    * `Σ_sub lut[sub][codes[sub]]` — a zip_with/aggregate over the codes
    * array, no vector math on the corpus side. Approximate-norm correction
    * uses the same table shape over the centroid norms, giving an
    * approximate COSINE so ranking matches the exact operators' contract.
    * Output: (query_id, neighbor_id, adc_cosine, rank). */
  /** Per-query ADC lookup tables: (query_id, qn, lut, nlut) where
    * `lut[sub][code]` is the EXACT sub-dot-product of the query's subvector
    * against that codebook centroid and `nlut` its squared norm — m·k
    * doubles per query, the whole table broadcast-sized.
    *
    * Computed DRIVER-SIDE (r15): every consumer immediately wraps the
    * result in `broadcast(...)`, i.e. collects it to the driver anyway, and
    * the query set is broadcast-small BY CONTRACT — yet the old spelling
    * ran a 3-exchange distributed pipeline (subvector explode → codebook
    * join → two collect_list re-aggregations) to produce those ≤|queries|
    * rows. The driver fold is the exact arithmetic twin of the codegen'd
    * [[graft.functions.DotProduct]] kernel (strict left-to-right double
    * accumulation), so every pdot/qn bit matches the old plan's values and
    * ADC ranking is unchanged; sim5/sim6 stay oracle-green. */
  private def queryLuts(queries: DataFrame, books: Seq[Codebook],
      idCol: String, vecCol: String, m: Int, dim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val subLen = dim / m
    // density-guarded: adcSum's flat s·k+code indexing depends on it
    val bySub: Seq[Seq[Codebook]] = denseBySub(books, m)
    // same fold order as DotProduct.nullSafeEval: s += x(i) * y(i)
    def fold(x: Seq[Double], y: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    // lut/nlut are FLAT m·k arrays in (sub, code) order: one element_at
    // per ADC lookup instead of a nested per-subspace array extraction —
    // the shortlist stage evaluates them once per scored candidate (4M
    // rows at the sf10 probe)
    val rows = queries
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().toSeq.map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Double](1)
        val qn = math.sqrt(fold(v, v))
        val lut = bySub.zipWithIndex.flatMap { case (cbs, s) =>
          val sv = v.slice(s * subLen, (s + 1) * subLen)
          cbs.map(b => fold(sv, b.centroid))
        }
        val nlut = bySub.flatMap(_.map(_.centroid.map(x => x * x).sum))
        (id, qn, lut, nlut)
      }
    rows.toDF("query_id", "qn", "lut", "nlut")
  }

  /** ADC score columns over a candidate set carrying (codes, lut, nlut).
    *
    * The sums are UNROLLED over the m subspaces (r15): the previous
    * `aggregate(zip_with(codes, lut, …))` spelling is a higher-order
    * expression pair — CodegenFallback, interpreted per row with lambda
    * variable binding — and at the sf10 probe its evaluation over the 4M
    * scored candidate rows was ~15 s of sim6's ~20 s wall. m is a
    * compile-time constant, so the same strict left-to-right double sum
    * (bit-identical fold order: ((t0+t1)+t2)…) becomes a chain of
    * codegen'd `element_at` lookups inside WholeStageCodegen. `lit(0.0) +`
    * leads the chain to keep the exact +0.0-first accumulation of the old
    * fold. */
  private def adcSum(m: Int, k: Int, flat: Column): Column =
    (0 until m).foldLeft(lit(0.0d): Column) { (acc, s) =>
      acc + element_at(flat, element_at(col("codes"), s + 1) + lit(s * k + 1))
    }

  private def adcScore(cands: DataFrame, m: Int, k: Int): DataFrame = cands
    .withColumn("adot", adcSum(m, k, col("lut")))
    .withColumn("anorm2", adcSum(m, k, col("nlut")))
    .withColumn("adc_cosine",
      round(col("adot") / (col("qn") * sqrt(col("anorm2"))), 6))

  def adcTopK(codes: DataFrame, books: Seq[Codebook], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dim: Int): DataFrame = {
    val nCodes = books.map(_.code).max + 1
    val lut = queryLuts(queries, books, idCol, vecCol, m, dim)
    val scored = adcScore(codes.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(lut))
      .filter(col("neighbor_id") =!= col("query_id")), m, nCodes)
      // project-early (r15): the rank window's exchange otherwise carries
      // the per-query lut/nlut arrays (~2 KB/row) on every scored row —
      // Catalyst does not prune them below the Window, and at the sf10
      // probe that exchange was ~90% of the whole query's wall
      .select("query_id", "neighbor_id", "adc_cosine")
    Similarity.rankTopK(scored, k, "adc_cosine")
  }

  /** Build-once cell-partitioned codes for IVF-PQ: encode the INDEX's own
    * corpus (it already carries the cell column) and persist (id, codes)
    * partitioned by cell — the layout where a probed read of the CODES
    * partition-prunes exactly like the index itself. Returns the cache
    * path; `_SUCCESS` is the sentinel. */
  def encodeCellsCached(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String, vecCol: String, cellCol: String,
      books: => Seq[Codebook], m: Int, dim: Int, path: String): String = {
    if (!new java.io.File(path + "/_SUCCESS").exists()) {
      val corpus = spark.read.parquet(indexPath)
        .select(col(idCol), col(cellCol).as("cell"),
          transform(col(vecCol), x => x.cast("double")).as("__v"))
      encode(corpus, idCol, "__v", books, m, dim)
        .join(corpus.select(col(idCol), col("cell")), Seq(idCol))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }
    path
  }

  /** IVF-PQ: the composed scale path — probe the IVF index's nprobe
    * closest cells per query (partition-pruned read, like
    * [[Similarity.ivfTopK]]), ADC-score ONLY the probed cells' codes via
    * an equi-join on the cell id (never a corpus-wide cross join), keep a
    * `shortlist`-sized candidate list per query, and exact-rerank just the
    * shortlist against the raw vectors. At 100 TB each query touches
    * nprobe cells of 8-byte codes plus `shortlist` raw vectors — the
    * standard two-tier ANN cost shape. Output: (query_id, neighbor_id,
    * cosine, rank) like the exact operators. */
  /** `codesPath`: a cell-partitioned codes cache from [[encodeCellsCached]]
    * — when set, the probed codes are READ (partition-pruned on the cell
    * literal list, like the index) instead of re-encoded per query. */
  /** THE cell-probe policy: nearest-`nprobe` cells per query by rounded
    * centroid cosine (desc, cell asc on ties). Extracted so diagnostics
    * (tools.IvfPqProbe) replay exactly what the production path probes —
    * a hand-copied replica would silently drift if this rounding or
    * tie-break ever changes. `cent` is (cell, centroid); `q` is
    * (query_id, qv, qn). Returns (query_id, cell). */
  private[graft] def probedCells(cent: DataFrame, q: DataFrame,
      nprobe: Int): DataFrame =
    q.crossJoin(broadcast(cent))
      .withColumn("cdist", round(dot(col("qv"), col("centroid")) /
        (col("qn") * Similarity.norm(col("centroid"))), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cdist"), asc("cell"))))
      .filter(col("crank") <= nprobe)
      .select("query_id", "cell")

  /** [[probedCells]] computed EAGERLY to a driver-local relation (r16,
    * VERDICT #7): every consumer needs the probe result at least twice —
    * the probed-cell literal list for the pruned read (a collect by
    * construction) AND a join input in the scoring plan — so the lazy
    * frame re-ran the crossJoin+rank-window subtree once per consumer (the
    * sim6 bench entry executed it three times: cells collect, shortlist
    * join, gate census) and dragged a window exchange into every plan.
    * The result is ≤ |queries|·nprobe rows BY CONTRACT (both factors are
    * query-side parameters, never corpus-sized), so it collects once per
    * invocation — same rows, same values, recomputed from the inputs every
    * call — and downstream plans see a LocalTableScan the planner
    * broadcasts from exact statistics. */
  private[graft] def probedCellsLocal(cent: DataFrame, q: DataFrame,
      nprobe: Int): DataFrame = {
    val pc = probedCells(cent, q, nprobe)
    val rows = pc.collect()
    pc.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), pc.schema)
  }

  /** `probedOpt`: a precomputed [[probedCellsLocal]] result for this exact
    * (index, queries, nprobe) triple — callers that need the probe census
    * themselves (sim6's gate) pass it in so the probe job runs once per
    * invocation instead of once per consumer. */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      books: Seq[Codebook], queries: DataFrame, idCol: String, vecCol: String,
      cellCol: String, m: Int, dim: Int, k: Int, nprobe: Int,
      shortlist: Int, codesPath: Option[String] = None,
      probedOpt: Option[DataFrame] = None): DataFrame = {
    val cent = Similarity.readCentroids(spark, indexPath)
      .withColumnRenamed(cellCol, "cell")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", Similarity.norm(col("qv")))
    val probed = probedOpt.getOrElse(probedCellsLocal(cent, q, nprobe))
    // local relation: the distinct cell list is a driver map, not a job
    val cells = probed.collect().map(_.getAs[Any]("cell")).distinct.toSeq
    // codes for the probed cells only (each corpus row lives in exactly one
    // cell, so the cell join never duplicates a candidate): read the
    // cell-partitioned cache when present, else encode the probed subset
    val corpusProbed = Similarity.readProbedCells(spark, indexPath, cellCol, cells)
      .select(col(idCol), col(cellCol).as("cell"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
    val codes = codesPath match {
      case Some(p) => spark.read.parquet(p)
        .filter(col("cell").isin(cells: _*))
        .select(col(idCol), col("codes"), col("cell"))
      case None => encode(corpusProbed, idCol, "__v", books, m, dim)
        .join(corpusProbed.select(col(idCol), col("cell")), Seq(idCol))
    }
    val nCodes = books.map(_.code).max + 1
    val lut = queryLuts(q.select(col("query_id").as(idCol),
      transform(col("qv"), x => x.cast("double")).as("__v")), books, idCol, "__v", m, dim)
    val shortlisted = adcScore(
        codes.select(col(idCol).as("neighbor_id"), col("codes"), col("cell"))
          .join(probed.join(broadcast(lut), Seq("query_id")), Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id")), m, nCodes)
      // project-early (r15): see adcTopK — without this the shortlist
      // stage exchanged 4M rows × ~2.2 KB of lut/nlut at the sf10 tier
      // (measured 13.8 s of sim6's ~20 s). The per-query shortlist cut
      // itself runs on the bounded-heap TopK operator: same order and
      // tie-break as the row_number window it replaces, but the exchange
      // carries at most shortlist·queries·partitions rows instead of every
      // ADC-scored candidate.
      .select("query_id", "neighbor_id", "adc_cosine")
    val shortlistTop = graft.plans.TopK.perKey(shortlisted, Seq("query_id"),
        "adc_cosine", shortlist, tiebreak = Seq(-col("neighbor_id")))
      .select("query_id", "neighbor_id")
    // exact rerank of the shortlist only
    val exact = shortlistTop
      .join(corpusProbed.select(col(idCol).as("neighbor_id"), col("__v").as("cv")),
        Seq("neighbor_id"))
      .join(q.select(col("query_id"),
        transform(col("qv"), x => x.cast("double")).as("qvd"), col("qn")), Seq("query_id"))
      .withColumn("cosine", round(dot(col("qvd"), col("cv")) /
        (col("qn") * Similarity.norm(col("cv"))), 6))
      .select("query_id", "neighbor_id", "cosine") // project-early: see adcTopK
    Similarity.rankTopK(exact, k)
  }
}
