package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Stage.Staged

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), with a brute-force exact baseline and an IVF
  * (inverted-file) cell-probed variant as the scale path.
  *
  * Dot products use `zip_with` + `aggregate` — a sequential left-to-right
  * double fold, i.e. the same accumulation order every engine uses for a
  * plain loop, which keeps results reproducible. Cosines are rounded to 6
  * decimals before ranking so ranking is stable across engines.
  *
  * Scale shape: queries are broadcast (small side); the corpus scan is
  * embarrassingly parallel with no shuffle until the per-query top-k, which
  * aggregates k·|queries| rows — at 100 TB the IVF variant additionally
  * prunes the corpus scan to the probed cells (partition pruning on the
  * cell id when the corpus is written partitioned by cell).
  */
object Similarity {

  /** Version tag of the IVF BUILD code path, folded into persistent cache
    * keys: bump it whenever [[ivfBuild]]/[[ivfBuildTrained]] (or anything
    * they call) changes the on-disk index, so a cached index built by older
    * code can never silently serve the new queries. */
  val IvfBuildVersion = 2

  /** Sequential-fold dot product of two float/double arrays, in double —
    * the codegen'd [[graft.functions.DotProduct]] kernel (identical value
    * and null semantics to the `aggregate(zip_with(…))` fold it replaced;
    * see its doc for why the native expression matters at scale). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact top-k neighbors by cosine for each query vector.
    * Output: (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // repartition: a single-file corpus read is one partition, and the
    // whole |corpus|×|queries| cosine grid until the rank exchange would
    // run on one core (same reasoning as Dedup.minhashes)
    val c = graft.core.Engine.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      col("neighbor_id"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      // project-early (r15, guide §2.3): the rank window's exchange
      // otherwise carries BOTH 64-dim vectors (~0.5 KB) on every scored
      // row — Catalyst does not prune columns below the Window here, and
      // the measured cost of the whole query was that exchange
      .select("query_id", "neighbor_id", "cosine")
    rankTopK(scored, k)
  }

  /** Per-query top-k of a projected (query_id, neighbor_id, cosine) frame:
    * the bounded-heap [[graft.plans.TopK]] operator keeps the k best rows
    * per query (map-side partial heaps, so the exchange carries at most
    * k·queries·partitions rows instead of EVERY scored candidate — at the
    * sf10 probe the window form exchanged and sorted 4M rows per query
    * set), then a row_number window over the ≤ k·|queries| survivors
    * assigns the rank. Ordering and tie-break (cosine DESC, neighbor_id
    * ASC) are identical to the window-only form, so the kept set and ranks
    * are row-for-row the same. */
  private[pipeline] def rankTopK(scored: DataFrame, k: Int,
      scoreCol: String = "cosine"): DataFrame =
    graft.plans.TopK.perKey(scored, Seq("query_id"), scoreCol, k,
        tiebreak = Seq(-col("neighbor_id")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc(scoreCol), asc("neighbor_id"))))
      .select(col("query_id"), col("neighbor_id"), col(scoreCol), col("rank"))

  /** Per-cell centroids: mean per dimension. Plain double means on purpose —
    * centroid choice only affects WHICH cells are probed, never the exact
    * re-rank inside them. */
  def cellCentroids(corpus: DataFrame, vecCol: String, cellCol: String): DataFrame =
    corpus
      .select(col(cellCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(cellCol, "pos").agg(avg(col("x").cast("double")).as("cx"))
      .groupBy(cellCol).agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
      .select(col(cellCol), transform(col("pc"), s => s.getField("cx")).as("centroid"))

  /** Lloyd's k-means over the embedding column — the IVF cell-TRAINING job
    * (classic distributed k-means: per-iteration broadcast of the k
    * centroids, distributed nearest-centroid assignment, per-cell mean
    * re-aggregation; only k×dim doubles ever reach the driver, so the
    * corpus-sized work is all executor-side). Deterministic: seeds are the
    * k vectors with the smallest portable id-hash, argmin ties break on the
    * lower cell id, and empty cells keep their previous centroid. Returns
    * (id, cell) assignments for [[ivfBuild]]. */
  def kmeansCells(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.functions.Portable
    // localCheckpoint: the training loop triggers ~2·iters+2 jobs over the
    // corpus (assignments + means each iteration) — materialize the
    // repartitioned working set once instead of re-reading and re-shuffling
    // the source every job
    val v = graft.core.Engine.spread(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id")).stage()
    // deterministic seeding: k vectors with the smallest id-hash
    var cents: Seq[(Int, Seq[Double])] = v
      .withColumn("h", Portable.hash32(col("id").cast("string")))
      .orderBy("h", "id").limit(k)
      .select(transform(col("v"), x => x.cast("double")).as("c"))
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }.toSeq
    def assign(centroids: Seq[(Int, Seq[Double])]): DataFrame = {
      val centDF = broadcast(centroids
        .map { case (c, vec) => (c, vec, vec.map(x => x * x).sum) }
        .toDF("cell", "cvec", "cnorm2"))
      // argmin over cells of |v - c|² — |v|² is constant per row, so rank
      // by (-2·v·c + |c|², cell); struct-min gives the deterministic argmin
      v.crossJoin(centDF)
        .withColumn("score", lit(-2.0) * dot(col("v"), col("cvec")) + col("cnorm2"))
        .groupBy("id").agg(min(struct(col("score"), col("cell"))).as("m"))
        .select(col("id"), col("m.cell").as("cell"))
    }
    for (_ <- 1 to iters) {
      val assigned = assign(cents)
      val next = assigned.join(v, Seq("id"))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x").cast("double")).as("cx"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
        .select(col("cell"), transform(col("pc"), s => s.getField("cx")).as("c"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toMap
      // empty cells keep their previous centroid
      cents = cents.map { case (c, old) => (c, next.getOrElse(c, old)) }
    }
    assign(cents)
  }

  /** Build the IVF index ONCE — this is the training job, not a query step.
    * Writes the corpus cell-partitioned (each cell a `cell=<v>/` directory,
    * so probed reads partition-prune at the source) and persists the
    * per-cell centroids beside it under `_centroids` (underscore prefix →
    * invisible to corpus reads). At 100 TB this runs as a batch job over
    * one corpus scan; every query thereafter touches only its `nprobe`
    * cells and the tiny centroid table. */
  def ivfBuild(corpus: DataFrame, vecCol: String, cellCol: String, path: String): Unit = {
    writeCellPartitioned(corpus, cellCol, path)
    // centroids from the just-written layout, not the source: the source is
    // scanned exactly once (the write); this read is column-pruned to
    // (cell, vec) over the local columnar copy
    val written = corpus.sparkSession.read.parquet(path)
    cellCentroids(written, vecCol, cellCol)
      .coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")
  }

  /** Train k cells with [[kmeansCells]] and build the index from them —
    * the full IVF lifecycle (train → partition → persist) in one batch
    * job; query via [[ivfTopK]] with cellCol = "cell". */
  def ivfBuildTrained(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, path: String): Unit = {
    val cells = kmeansCells(corpus, idCol, vecCol, k, iters)
    // drop by COLUMN REFERENCE: drop("id") would remove every column named
    // "id", including the corpus's own when idCol == "id"
    ivfBuild(corpus.join(cells, corpus(idCol) === cells("id")).drop(cells("id")),
      vecCol, "cell", path)
  }

  /** Build-once cache around [[ivfBuild]]: skip the build when a complete
    * index already sits at `path`. The `_centroids/_SUCCESS` marker is the
    * completeness sentinel — it is the LAST file the build writes, so a
    * crashed half-build never satisfies the check. This is what makes the
    * documented "build once, query many" lifecycle real for repeated
    * invocations (Verify, Bench warm-up + reps): without it every call paid
    * a full index build and the bench timed build+query instead of the
    * probed-read query path. */
  def ivfBuildCached(corpus: => DataFrame, vecCol: String, cellCol: String,
      path: String): String = {
    if (!new java.io.File(path + "/_centroids/_SUCCESS").exists())
      ivfBuild(corpus, vecCol, cellCol, path)
    path
  }

  /** Build-once cache around [[ivfBuildTrained]] (same sentinel as
    * [[ivfBuildCached]]). */
  def ivfBuildTrainedCached(corpus: => DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, path: String): String = {
    if (!new java.io.File(path + "/_centroids/_SUCCESS").exists())
      ivfBuildTrained(corpus, idCol, vecCol, k, iters, path)
    path
  }

  /** Incremental index maintenance: admit NEW vectors into an existing
    * index by assigning each to its nearest persisted centroid (the same
    * L2 argmin rule [[kmeansCells]] assigns with — broadcast centroids,
    * executor-side argmin) and APPENDING them to the cell-partitioned
    * layout. One scan of the delta, no retrain, no rewrite of the resident
    * corpus — at 100 TB this is the difference between a daily index
    * rebuild and a minutes-scale delta append. Queries pick the additions
    * up immediately: [[ivfTopK]] re-lists the cell directories per read,
    * and rerank inside probed cells is exact regardless of assignment.
    *
    * The centroids deliberately do NOT move: they are probe-routing
    * metadata, and drifting them per delta would silently re-route other
    * queries. Centroid staleness degrades probe CHOICE only (recall at
    * fixed nprobe), never rerank exactness; operators re-train (a fresh
    * [[ivfBuildTrained]]) when the accumulated delta fraction warrants
    * it. Returns the number of vectors appended. */
  def ivfAdd(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      delta: DataFrame, idCol: String, vecCol: String, cellCol: String): Long = {
    require(new java.io.File(indexPath + "/_centroids/_SUCCESS").exists(),
      s"no complete IVF index at $indexPath — build with ivfBuild* first")
    val cent = broadcast(readCentroids(spark, indexPath)
      .select(col(cellCol).as("__cell"),
        transform(col("centroid"), x => x.cast("double")).as("__cvec"))
      .withColumn("__cnorm2", dot(col("__cvec"), col("__cvec"))))
    // argmin by grouping on the full delta row (ids unique by contract →
    // groups are rows; the group-by carries the payload columns through
    // without a second join back to the delta)
    val assigned = delta
      .crossJoin(cent)
      .withColumn("__score", lit(-2.0) * dot(col(vecCol), col("__cvec")) + col("__cnorm2"))
      .groupBy(delta.columns.map(col): _*)
      .agg(min(struct(col("__score"), col("__cell"))).as("__m"))
      .withColumn(cellCol, col("__m.__cell")).drop("__m")
    // count observed DURING the append (same single-pass pattern as
    // extract's write-observed count, Extract.writeCounted): a count() +
    // write would execute the crossJoin+argmin pipeline twice
    val obs = org.apache.spark.sql.Observation()
    assigned.observe(obs, count(lit(1)).as("rows"))
      .write.mode("append").partitionBy(cellCol).parquet(indexPath)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Query the persisted IVF index: rank the (broadcast) persisted centroids
    * per query, prune the corpus read to the union of probed cells — a
    * PartitionFilters-pruned scan, PlanSpec-asserted — and exact re-rank
    * inside them. With nprobe == #cells this is exactly brute force (the
    * form the oracle verifies); at scale nprobe ≪ #cells.
    *
    * The probed-cell collect is bounded by the CELL count (an index
    * parameter, thousands at most), never by corpus or query cardinality —
    * the literal cell list is precisely what makes the scan prunable. */
  /** Read the persisted centroid table via its exact part-file paths. The
    * `_centroids` directory name is underscore-hidden by design (invisible
    * to corpus reads), but a DIRECTORY read of it trips `DataSource`'s
    * hidden-path filter into a "All paths were ignored" warning on every
    * query — listing the part files explicitly keeps the read silent;
    * explicit file paths are never filtered. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(indexPath + "/_centroids")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).sorted.toSeq
    spark.read.parquet(parts: _*)
  }

  def ivfTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      queries: DataFrame, idCol: String, vecCol: String, cellCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val cent = readCentroids(spark, indexPath)
      .withColumnRenamed(cellCol, "cell")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    // probe the nprobe closest centroids per query — computed EAGERLY to a
    // driver-local relation (r16, same rationale as Pq.probedCellsLocal):
    // the lazy frame executed this crossJoin+rank-window subtree TWICE per
    // query (the cells collect and the scoring join) and dragged the
    // window's exchange into the main plan; the result is ≤
    // |queries|·nprobe rows by contract, so one collect serves both.
    val probedLazy = q.crossJoin(broadcast(cent))
      .withColumn("cdist", round(dot(col("qv"), col("centroid")) /
        (col("qn") * norm(col("centroid"))), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cdist"), asc("cell"))))
      .filter(col("crank") <= nprobe)
      .select("query_id", "qv", "qn", "cell")
    val probedRows = probedLazy.collect()
    val probed = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probedLazy.schema)
    val cells = probedRows.map(_.getAs[Any]("cell")).distinct.toSeq
    val c = readProbedCells(spark, indexPath, cellCol, cells)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col(cellCol).as("cell"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(probed, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .select("query_id", "neighbor_id", "cosine") // project-early: see bruteForceTopK
    rankTopK(scored, k)
  }

  /** Write the corpus partitioned by its cell column — the IVF index
    * layout. Each cell becomes a `cell=<v>/` directory, so a probed read
    * is partition-PRUNED at the source: Spark lists and scans only the
    * probed cells' files, never the rest of the corpus. At 100 TB with
    * nprobe ≪ #cells this is the difference between scanning terabytes
    * and scanning the few cells the query actually ranks. */
  def writeCellPartitioned(corpus: DataFrame, cellCol: String, path: String): Unit =
    corpus.write.mode("overwrite").partitionBy(cellCol).parquet(path)

  /** Probed read over a cell-partitioned corpus: `cell IN (probed…)` is a
    * partition filter (shows under PartitionFilters in the scan, with no
    * data filter needed). */
  def readProbedCells(spark: org.apache.spark.sql.SparkSession, path: String,
      cellCol: String, probed: Seq[Any]): DataFrame =
    spark.read.parquet(path).filter(col(cellCol).isin(probed: _*))

  /** Exact cosine near-dup pairs by blocked self-join — the LOOSE-threshold
    * regime operator. At thresholds like 0.4 on dense vectors, exact recall
    * is inherently Θ(n²): an LSH banding tight enough to prune also misses
    * true mid-similarity pairs, and the banding config that kept recall
    * exact was measured to be near-all-pairs anyway (see [[srpBandedPairs]]'s
    * cost model). This operator accepts the quadratic comparison count and
    * makes it DISTRIBUTE: ids are hash-assigned to `blocks` groups, every
    * unordered block pair (g1 ≤ g2) is one join key, and the self-join runs
    * as a single hash-partitioned equi-join on that key — n²/2 comparisons
    * spread over blocks·(blocks+1)/2 buckets, never a broadcast nested
    * loop. Per-row replication factor is blocks+1, the classic triangle
    * self-join scheme; pick blocks ≈ √(2·cores) so buckets ≈ cores.
    *
    * Pair-once proof: a cross-block pair meets only under its one common
    * key (the lhs emits (g_a, ≥g_a), the rhs emits (≤g_b, g_b) — they
    * intersect in exactly (g_a, g_b) when g_a < g_b, in either role
    * assignment); a same-block pair meets twice in bucket (g, g) and the
    * id order filter keeps one. Output ids are normalized least/greatest.
    *
    * For genuinely near-dup thresholds (≥0.7) prefer [[srpBandedPairs]] in
    * its pruning configuration (r=8, b=32): subquadratic candidates at
    * (effectively) exact recall for tight pairs.
    *
    * `maxRows` guards the quadratic blow-up: all-pairs is O(n²/2) BY SPEC
    * (the loose-threshold regime has no admissible pruning), so a corpus
    * that drifted to engine scale must fail fast with a pointer to the
    * subquadratic path, not launch a 10¹⁴-comparison job. The default cap
    * (1M rows ≈ 5·10¹¹ comparisons, an hours-scale cluster job) is far
    * above every verify/bench tier; pass `maxRows <= 0` to disable after
    * sizing the cluster deliberately. Costs one count() of the corpus —
    * metadata-only on a parquet-backed frame, and noise next to n²/2. */
  def exactCosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 16, maxRows: Long = 1000000L): DataFrame = {
    import graft.functions.Portable
    if (maxRows > 0) {
      val n = corpus.count()
      require(n <= maxRows,
        s"exactCosinePairs is all-pairs O(n^2): corpus has $n rows > guard " +
          s"$maxRows. Use srpBandedPairs (subquadratic) for corpora this " +
          "size, or pass maxRows<=0 to override deliberately.")
    }
    val v = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("g", pmod(Portable.hash32(col("id").cast("string")), lit(blocks)).cast("int"))
    val lhs = v.withColumn("k2", explode(sequence(col("g"), lit(blocks - 1))))
      .select(col("g").as("k1"), col("k2"),
        col("id").as("id_x"), col("v").as("vx"), col("nrm").as("nx"))
    val rhs = v.withColumn("k1", explode(sequence(lit(0), col("g"))))
      .select(col("k1"), col("g").as("k2"),
        col("id").as("id_y"), col("v").as("vy"), col("nrm").as("ny"))
    // co-partition BOTH sides on the bucket key at the session's policy
    // width, explicitly (r15): the planner's own ENSURE exchange is
    // byte-sized and AQE-coalescible, and the bucket rows are a few MB that
    // fan out into n²/2 dot products — the bench tier measured the whole
    // quadratic core folded onto ONE task. An explicit width pins the join
    // at engine parallelism (the join's required clustering is exactly
    // (k1, k2), so these exchanges REPLACE the planner's, not add to them);
    // at big tiers the shuffled bytes are large enough that coalescing
    // never fired, so the plan there is unchanged.
    val w = corpus.sparkSession.sessionState.conf.numShufflePartitions
    lhs.repartition(w, col("k1"), col("k2"))
      .join(rhs.repartition(w, col("k1"), col("k2")), Seq("k1", "k2"))
      // same-block bucket sees both orders → keep one; cross-block buckets
      // see the pair once in arbitrary id order → keep it whichever way
      .filter((col("k1") =!= col("k2") && col("id_x") =!= col("id_y")) ||
        col("id_x") < col("id_y"))
      .withColumn("cs", dot(col("vx"), col("vy")) / (col("nx") * col("ny")))
      .filter(col("cs") >= threshold)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("cs"))
  }

  /** Hashed-relation budget estimate for an (id, 64-dim double vector,
    * norm) verify-side row: 8 B id + 8 B norm + UnsafeRow array header +
    * 64×8 B components ≈ 560 B, rounded to 640 B for the relation's
    * bucket/pointer overhead. */
  val VecRowHashedBytes = 640L

  /** Budget-gated broadcast for a verify-side vector table (same policy
    * shape as `Dedup.minhashLshCrossPairs` / `DocStream.ingestDedup`):
    * under [[graft.core.Engine.broadcastBudget]] the side gets an explicit
    * broadcast so candidate pairs verify MAP-SIDE and never shuffle with
    * 512 B vectors attached — measured at the sf100 tier, the shuffled
    * second verify join carried ~35 GB of pair×vector intermediate for
    * 64M budget-bounded candidates and ENOSPC'd a 57 GB scratch volume,
    * while the candidate table itself is 16 B/row. Over budget (≈3M
    * vectors at the 2 GB cap) the hint is omitted and the joins plan
    * shuffled: degraded, not dead at Spark's 8 GB broadcast ceiling. */
  def gatedVecBroadcast(side: DataFrame, rows: Long): DataFrame =
    if (rows * VecRowHashedBytes <= graft.core.Engine.broadcastBudget())
      broadcast(side)
    else side

  /** Hyperplane `p` component `j`, driver-side: the exact arithmetic twin of
    * the `Portable.hash32("p:j")`-seeded expression the DuckDB oracles
    * replay — md5 hex prefix → [0, 2³²) → scaled to [-1, 1). Planes are
    * bounded control data (≤ r·b ≈ 512 rows of `dim` doubles), so they ride
    * the plan as a LITERAL array: signature computation becomes a map-only
    * projection per vector instead of a ×nplanes crossJoin row-blowup
    * feeding a groupBy shuffle — at 100 TB that removes an n×nplanes
    * intermediate and a full aggregate exchange from the hot path. */
  private def planeComp(p: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
  }

  /** All `nplanes` hyperplanes as a nested literal (1-based via element_at). */
  private[graft] def planesLit(nplanes: Int, dim: Int = 64): Column =
    typedlit(Seq.tabulate(nplanes, dim)(planeComp).map(_.toSeq))

  /** Sign-random-projection LSH bucket per vector: `nbits` hyperplanes with
    * deterministic md5-seeded ±1 components; bucket = sign bit vector.
    * Groups near-colinear vectors; the scale path for cosine near-dup.
    * Bit packing (plane p → bit p, little-endian fold) and plane values are
    * identical to the oracle's SQL spelling, so sim3 hash-matches. */
  def srpBuckets(corpus: DataFrame, idCol: String, vecCol: String,
      nbits: Int = 16): DataFrame = {
    val pl = planesLit(nbits)
    graft.core.Engine.spread(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .select(col("id"), aggregate(
        sequence(lit(nbits - 1), lit(0), lit(-1)), lit(0L),
        (acc, p) => acc * 2 + when(dot(col("v"), element_at(pl, p + 1)) > 0, 1L)
          .otherwise(0L)).as("bucket"))
  }

  /** Banded SRP candidate pairs: `bitsPerBand` hyperplane sign bits per band
    * × `numBands` bands; a pair is a candidate iff it agrees on at least one
    * whole band. Same deterministic md5-seeded planes as [[srpBuckets]]
    * (plane ids 0 until bitsPerBand*numBands).
    *
    * This is the cosine analog of MinHash banding: an equi-join on
    * (band, bucket) — a hash-partitioned shuffle that distributes, never a
    * broadcast-nested-loop. Recall for a pair at angle θ is
    * 1-(1-(1-θ/π)^r)^b; at r=4, b=64 a cosine-0.4 pair (θ/π≈0.37) is missed
    * with p≈1.6e-5, and anything more similar essentially never — verified
    * exhaustively against the exact pair set on the test tiers.
    *
    * Honest cost model (measured): exact recall at a LOOSE threshold like
    * 0.4 forces the near-all-pairs regime — an uncorrelated pair still
    * collides in ≥1 of 64 four-bit bands with p≈0.98, so candidate volume
    * approaches n²/2 and the equi-join's work is the true cost of the
    * guarantee, not overhead. The pruning regime is TIGHT thresholds, and
    * r is the lever that matters at scale: candidate volume for
    * uncorrelated pairs is ~b/2^r of all pairs — ANY fixed r is a
    * constant-factor prune on a quadratic space, so r must grow with the
    * corpus (the BENCH_sf1 probe measured r=8/b=32, a 1/8 constant, going
    * 419× from a 10× corpus; r=16/b=32 cuts the rate 256× for 2× the
    * projection cost while a cosine-0.98 pair still collides in ≥1 band
    * with p ≈ 1-1e-6). Callers pick r/b per threshold and corpus size;
    * candidates are exact-rechecked either way. */
  /** Bits-per-band for [[srpBandedPairs]], derived from corpus size and the
    * target cosine threshold — the scaladoc'd cost model made executable so
    * callers stop hand-picking constants that silently stop pruning at the
    * next decade (the BENCH_sf1 probe measured exactly that: fixed r=8 went
    * 419× candidates at 10× corpus).
    *
    * Two competing constraints pick r:
    *  - PRUNING floor: an uncorrelated pair collides in ≥1 of `numBands`
    *    r-bit bands with p ≈ b/2^r, so expected junk candidates are
    *    n²/2 · b/2^r. Holding that to ~`perIdBudget` candidates per vector
    *    (linear total) needs r ≥ log₂(b·n / (2·budget)) — r grows one bit
    *    per corpus DOUBLING, which is what makes the prune scale-stable.
    *  - RECALL ceiling: a pair at angle θ (cos θ = threshold) agrees on one
    *    whole band with (1-θ/π)^r, so band recall 1-(1-(1-θ/π)^r)^b falls
    *    as r grows; rMax is the largest r that keeps recall ≥ `minRecall`
    *    for a pair AT the threshold (pairs above it do strictly better).
    * When the floor exceeds the ceiling (≈10⁹ vectors at b=32, t=0.98) the
    * ceiling wins — recall is the contract — and the caller must grow
    * `numBands` with the next decades instead (each ×2 of b buys one more
    * bit of r at the same recall). */
  def rForCorpus(n: Long, threshold: Double, numBands: Int = 32,
      minRecall: Double = 0.999, perIdBudget: Int = 32): Int = {
    require(n > 0 && threshold > -1.0 && threshold < 1.0)
    val pBit = 1.0 - math.acos(threshold) / math.Pi
    def recall(r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(pBit, r), numBands)
    val rMax = (1 to 62).takeWhile(r => recall(r) >= minRecall).lastOption.getOrElse(1)
    val rPrune = math.ceil(
      math.log(numBands.toDouble * n / (2.0 * perIdBudget)) / math.log(2.0)).toInt
    math.max(1, math.min(rMax, math.max(rPrune, 8)))
  }

  def srpBandedPairs(corpus: DataFrame, idCol: String, vecCol: String,
      bitsPerBand: Int = 4, numBands: Int = 64): DataFrame = {
    val nplanes = bitsPerBand * numBands
    val pl = planesLit(nplanes)
    // one map-only pass per vector: all nplanes sign bits, then per-band
    // little-endian packing (plane b·r+i → bit i, the crossJoin-era layout)
    // and posexplode to (id, band, bucket) — n·b rows with NO aggregate
    // exchange and no ×nplanes row-blowup behind them
    val bits = transform(sequence(lit(0), lit(nplanes - 1)),
      p => when(dot(col("v"), element_at(pl, p + 1)) > 0, 1L).otherwise(0L))
    val banded = graft.core.Engine.spread(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
      .select(col("id"), bits.as("bits"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(numBands - 1)), b =>
          aggregate(sequence(lit(bitsPerBand - 1), lit(0), lit(-1)), lit(0L),
            (acc, i) => acc * 2 +
              element_at(col("bits"), b * bitsPerBand + i + 1)))))
      .toDF("id", "band", "bucket")
      // UNSTAGED (r16, the d2 ReusedExchange treatment): the self-join's
      // sides are canonically identical subtrees, so their (band, bucket)
      // exchanges dedupe to ONE ReusedExchange and the ×nplanes projection
      // runs once either way — the materialization only added a second
      // copy of the band table to the chain. Measured (same probe, min of
      // 3): sf0.1 1.59 → 1.50 s, Σtask 12.3 → 4.8 s; sf1 2.60 → 2.41 s,
      // Σtask 22.9 → 20.2 s, shuffle 14.1 → 7.9 MB (the shared exchange);
      // at sf100 this drops a corpus×bands-sized checkpoint write.
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }
}
