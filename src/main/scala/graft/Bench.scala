package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable

import graft.core.{Engine, Json}

/** Benchmark main: times the headline query set on SPARK_GRAFT_SF_DIR,
  * writes the full record to `bench_out.json`, and prints a COMPACT one-line
  * JSON summary (no rep_times/plan_sha — the full line was several KB and
  * log tail-capture front-truncated it; the file is the complete artifact). After an untimed smoke-scale warm-up, each
  * query runs SPARK_GRAFT_BENCH_REPS times (default 3) at the bench scale
  * and reports the per-query MINIMUM — single cold runs of sub-1.5 s
  * queries swing ±20% on JVM/GC noise, which made round-over-round
  * comparison unattributable. Results are materialized via count() of the
  * final plan.
  *
  * Contended-box detection: a rep spread wider than [[NoisyRatio]] (max/min
  * over the reps of one query) is the signature of environment interference,
  * not code — rep 2 fast while reps 1/3 are 50× slower can't be a plan
  * property. Such queries re-run one extra batch of reps (appended, min
  * still wins) and any query whose spread STAYS pathological is named in the
  * `"noisy"` output field, so a poisoned artifact says so instead of lying.
  */
object Bench {

  /** Max/min rep-time ratio beyond which a query's timing is considered
    * environment-poisoned and re-measured. */
  val NoisyRatio = 5.0

  /** Mask run-specific artifacts out of a canonicalized plan string so its
    * hash is stable across sessions and machines: scan Locations embed
    * absolute paths (the IVF/PQ cache dirs embed a content-keyed hash, and
    * tmp/warehouse paths differ per host), and localCheckpoint scans print
    * the session-scoped RDD id (`Scan ExistingRDD[...]` arguments). A
    * changed sha then means a REAL plan change, which is the one thing the
    * fingerprint exists to attribute. */
  private[graft] def maskPlan(plan: String): String =
    plan
      // Exchange/Subquery nodes print their plan_id — a SESSION-GLOBAL
      // counter, so any variation in what ran earlier in the session
      // (index-cache hit vs build, a noisy re-run batch, feed chunking)
      // shifts every later query's ids. This is what made q21/d5 appear in
      // `plan_changed` on EVERY bench run since r13: their canonicalized
      // plans keep a user-repartition Exchange line that prints the id.
      // Masked (r16) — node type, partitioning, and width stay visible.
      .replaceAll("""\[plan_id=\d+\]""", "[plan_id=N]")
      // InMemoryFileIndex(1 paths)[file:/tmp/...] and any file:/ URI token
      .replaceAll("""InMemoryFileIndex\([^)]*\)\[[^\]]*\]""", "InMemoryFileIndex[MASKED]")
      .replaceAll("""file:/[^\s\]),]*""", "file:MASKED")
      // absolute fs paths outside a file: URI (e.g. PartitionPath logs)
      .replaceAll("""(?<=[\[\s(,])/(?:tmp|root|home)/[^\s\]),]*""", "/MASKED")
      // expression ids: canonicalization normalizes them in the main tree
      // (sequential, deterministic — left VISIBLE so a real attribute change
      // flips the sha), but a SubqueryAdaptiveBroadcast (DPP) embeds its
      // build plan UNcanonicalized, where raw exprIds are session-allocation
      // order — pure noise. Mask #NNN ONLY on those subquery lines: a
      // blanket mask also swallowed plan-meaningful literals like 'Brand#1'
      // in Filter/PushedFilters text, so a literal-only filter change left
      // the sha unchanged — the exact misattribution the fingerprint exists
      // to prevent (PlanSpec pins both properties).
      .split("\n", -1).map { line =>
        if (line.contains("SubqueryAdaptiveBroadcast") ||
            line.contains("SubqueryBroadcast") ||
            line.contains("dynamicpruning"))
          line.replaceAll("""#\d+""", "#N")
        else line
      }.mkString("\n")
      // canonicalization renders a commutative AND of PartitionFilters as
      // multicommutativeop(...) with operand order that varies BY JVM (it
      // sorts on hashCodes), and the scan line truncates the list so the
      // operands can't be re-sorted here — mask the operand list (the
      // clause's PRESENCE still distinguishes a pruned from an unpruned
      // scan; PushedFilters/ReadSchema stay visible)
      .replaceAll("""multicommutativeop\([^\n]*?(?=, PushedFilters: |, ReadSchema: |\n|$)""",
        "multicommutativeop(MASKED)")

  /** Other live graft JVMs on this box (main-class names), self excluded —
    * a concurrent JVM contention-poisons every timing in this run (round
    * 14: the sf0.1 round bench overlapped an sf100 streaming chunk and all
    * 22 entries read 1.2–1.8× slow with zero plan changes). The bench
    * STAMPS rather than refuses — a driver-scheduled round bench must
    * produce an artifact — so a poisoned recording says so in-band
    * (`"concurrent"` field) instead of masquerading as a regression.
    * /proc scan, zero dependencies; returns empty on non-Linux. */
  private def concurrentGraftJvms(): Seq[String] = try {
    val self = ProcessHandle.current().pid()
    val dir = new java.io.File("/proc")
    if (!dir.isDirectory) Seq.empty
    else dir.listFiles().toSeq
      .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong != self)
      .flatMap { f =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f.getPath, "cmdline")),
            java.nio.charset.StandardCharsets.UTF_8).split('\u0000')
          if (cmd.headOption.exists(_.contains("java")))
            cmd.find(a => a.startsWith("graft.") && !a.contains("=")).toSeq
          else Seq.empty
        } catch { case _: Throwable => Seq.empty }
      }
  } catch { case _: Throwable => Seq.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // sampled at start AND end of the run: a poisoner present at either
    // edge (or both) is named in the artifact's "concurrent" field
    val concurrentAtStart = concurrentGraftJvms()
    // the same session (and physical policy) as Verify and the CLI: shuffle
    // width, split size, codec, state store and staging all derive from
    // the tier inside Engine.session
    val spark = Engine.session("graft-bench", dataDir = Some(sfDir))
    spark.sparkContext.setLogLevel("WARN")
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // every swallowed failure lands here as "class: message", keyed by what
    // failed, and is written to bench_out.json
    val errors = mutable.LinkedHashMap.empty[String, String]
    def fail(key: String, e: Throwable): Unit =
      errors(key) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
    val fns = SparkEntry.queries
    // optional name filter (dev loop / scale probes — e.g. BENCH_sf10 runs
    // only the subquadratic set, leaving out the quadratic-by-spec d5 and
    // the documented-regime d4); the driver never sets it → full set
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // untimed warm-up, two passes: the smoke scale first (JIT, codegen
    // cache, parquet footer readers), then ONE pass at the bench tier
    // itself so build-once artifacts (IVF/PQ index caches) are built
    // OUTSIDE the timed reps — otherwise rep 1 carries a one-time index
    // build, the min still lands on steady state but the rep spread trips
    // the contention guard for what is really amortized-build cost
    // SPARK_GRAFT_SKIP_TIER_WARMUP: at the big scale tiers a warm-up
    // execution of a 10-minute query buys <2% JIT effect but leaves a
    // corpse of dead shuffle that dwells into rep 1's disk budget — at
    // sf100 that dwell is what ENOSPC'd d2. The smoke-scale pass (JIT,
    // codegen, footer readers) always runs; index-backed entries (sim2,
    // sim6) build their caches lazily on rep 1 instead, visible in the
    // rep spread, which at multi-minute reps stays far under NoisyRatio.
    val skipTierWarmup = sys.env.contains("SPARK_GRAFT_SKIP_TIER_WARMUP")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // index-build audit (r16, VERDICT #9): the build-once IVF/PQ caches are
    // (re)built during the UNTIMED tier warm-up, so the timed reps measure
    // probe latency — report that warm-up wall per index-backed entry so
    // the amortization stays auditable per run (a large value = this run
    // paid the build; a small one = cache hit; absent = tier warm-up
    // skipped, the build lands visibly in rep 1's rep_times instead).
    // The dirs are deduplicated: a warm-up dir equal to the tier would
    // otherwise run a second, cache-hit pass over the recorded build time.
    val indexBacked = Set("sim2_ivf_knn", "sim6_ivfpq")
    val indexBuildSecs = mutable.LinkedHashMap.empty[String, Double]
    (if (skipTierWarmup) Seq(warmupDir) else Seq(warmupDir, sfDir)).distinct.foreach { dir =>
      queries.Headline.benchNames.filter(keep).foreach { name =>
        val t0 = System.nanoTime()
        try { fns(name)(spark, dir).count() }
        catch { case e: Throwable => fail(s"$name/warmup ${new java.io.File(dir).getName}", e) }
        if (dir == sfDir && indexBacked(name))
          indexBuildSecs(name) = (System.nanoTime() - t0) / 1e9
      }
    }
    // a failed query reports null and is EXCLUDED from the total instead of
    // skewing it with a partial/negative wall time
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def timeReps(name: String, n: Int): Seq[Double] = (1 to n).flatMap { _ =>
      val t0 = System.nanoTime()
      try { fns(name)(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => fail(s"$name/rep", e); None }
    }
    def spread(ts: Seq[Double]): Double =
      if (ts.size < 2 || ts.min <= 0) 1.0 else ts.max / ts.min
    val firstPass: Seq[(String, Seq[Double])] =
      queries.Headline.benchNames.filter(keep).map(name => name -> timeReps(name, reps))
    // contended-box guard: one extra batch for pathological spreads; the
    // appended reps keep the evidence (rep_times shows both batches). The
    // noisy VERDICT comes from the RE-RUN batch alone — spread over the
    // combined list is ≥ the first batch's by construction (superset max /
    // subset min), so the old combined test could never clear a query the
    // re-run batch measured tightly, contradicting the "named only if
    // spread STAYS pathological" contract.
    val results: Seq[(String, Seq[Double], Boolean)] = firstPass.map { case (name, ts) =>
      if (spread(ts) > NoisyRatio) {
        val rerun = timeReps(name, reps)
        (name, ts ++ rerun, spread(rerun) > NoisyRatio)
      } else (name, ts, false)
    }
    // streaming throughput evidence: the two stateful shapes whose bounded-
    // state claims were otherwise correctness-gated only — native session
    // windows and the stream-stream interval join — timed END-TO-END
    // (readStream → stateful op → noop sink, processAllAvailable) over the
    // bench tier's events feed, same reps/min discipline as the batch set.
    // The noop sink keeps the measurement about state machinery, not
    // driver-side result collection.
    import graft.streaming.EventStream
    // No catch: a broken events load must fail the bench run loudly, not
    // read as "0 events/sec" (in round 10 that masked a decode regression
    // as a throughput collapse).
    val eventsRows = graft.core.Tables.load(spark, sfDir, "events").count()
    // stateful ops read the conf at planning: narrow the width to the
    // streaming policy (state-commit IO is per-partition-fixed — see
    // Engine.streamShuffleWidth) for the stream entries, restore after
    val streamWidth = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      Engine.streamShuffleWidth(sfDir, spark.sparkContext.defaultParallelism).toString)
    spark.conf.set("spark.sql.shuffle.partitions", streamWidth)
    // per-entry state-store evidence from the last completed run: which
    // provider the policy chose, summed state-commit time, peak state
    // memory, rows updated — so the artifact shows WHAT the state machinery
    // cost, not just the wall time it rode in
    val streamStateInfo = mutable.Map.empty[String, Map[String, Any]]
    def streamOnce(name: String,
        build: () => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        val q = build().writeStream.format("noop")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .start()
        try q.processAllAvailable() finally q.stop()
        val ops = q.recentProgress.flatMap(p =>
          Option(p.stateOperators).getOrElse(Array.empty))
        if (ops.nonEmpty) {
          val provider =
            if (spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
              .contains("RocksDB")) "rocksdb" else "memory"
          streamStateInfo(name) = ListMap("provider" -> provider,
            "commit_ms" -> ops.map(_.commitTimeMs).sum,
            "mem_bytes" -> ops.map(_.memoryUsedBytes).max,
            "rows_updated" -> ops.map(_.numRowsUpdated).sum)
        }
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => fail(s"$name/rep", e); None }
    }
    // Feed shape: the JOIN-BUFFERED entry (st6) replays a time-ordered
    // multi-file feed when the chunking policy says state depth is the
    // bottleneck (RocksDB regime only — see Engine.streamFeedChunks for
    // both measured directions); the KEYED-MERGE entry (st5) always
    // replays single-batch, which measured faster at every tier. Prep is
    // reported separately (`stream_feed`), not folded into the per-query
    // wall: a live feed arrives time-ordered for free.
    val feedChunks = sys.env.get("SPARK_GRAFT_FEED_CHUNKS").map(_.toInt)
      .getOrElse(Engine.streamFeedChunks(sfDir, joinBuffered = true))
    val (feedDir, feedPrepSec): (Option[String], Double) =
      if (feedChunks > 1 && keep("st6_stream_interval_join")) {
        val t0 = System.nanoTime()
        val dir = EventStream.timeOrderedFeed(spark, sfDir,
          s"${sys.props("java.io.tmpdir")}/graft_stream_feed", feedChunks)
        (Some(dir), (System.nanoTime() - t0) / 1e9)
      } else (None, 0.0)
    def joinSrc(): org.apache.spark.sql.DataFrame =
      feedDir.map(EventStream.readFeedStream(spark, _))
        .getOrElse(EventStream.readStream(spark, sfDir))
    val streamDefs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "st5_stream_session_window" ->
        (() => EventStream.sessionWindowStats(EventStream.readStream(spark, sfDir))),
      "st6_stream_interval_join" ->
        (() => EventStream.sameUserRecentPairs(joinSrc(), joinSrc())))
    // streams run one batch of reps (no re-run pass): noisy = that spread
    val streamResults: Seq[(String, Seq[Double], Boolean)] =
      streamDefs.filter(d => keep(d._1)).map { case (n, b) =>
        val ts = (1 to reps).flatMap(_ => streamOnce(n, b))
        (n, ts, spread(ts) > NoisyRatio)
      }
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    val all = results ++ streamResults
    // per-query physical-plan fingerprint: md5 of the CANONICALIZED plan
    // (expression-id-free) with run-local artifacts masked (scan paths,
    // checkpoint RDD args — see maskPlan), so plan drift across rounds is
    // machine-attributable: an unchanged plan_sha with a changed time is
    // environment; a changed plan_sha is a real plan change. This is
    // planning work only for most queries, but index-backed ones (sim2,
    // sim6) run their small probe/build jobs while constructing the frame.
    val planShas: Seq[(String, String)] =
      queries.Headline.benchNames.filter(keep).map { name =>
        val sha = try {
          val plan = maskPlan(fns(name)(spark, sfDir).queryExecution.executedPlan
            .canonicalized.toString)
          java.security.MessageDigest.getInstance("MD5")
            .digest(plan.getBytes(StandardCharsets.UTF_8))
            .take(6).map(b => f"$b%02x").mkString
        } catch { case e: Throwable => fail(s"$name/plan_sha", e); "error" }
        name -> sha
      }
    // plan-regression gate: diff each fingerprint against the committed
    // per-tier baseline (`bench_plans.json` in cwd) and name every changed
    // plan in the output, so plan drift is machine-flagged the round it
    // happens instead of hand-noted rounds later (PLANS.md history). Keyed
    // by tier basename because tiers plan differently (derived shuffle
    // width, AQE stats) — a scale-probe run must not read as "every plan
    // changed", nor may it clobber the sf0.1 baseline the driver's
    // round-end run diffs against. Only queries present in both runs can
    // "change"; first-run / newly-added queries aren't drift. Fingerprints
    // are masked per maskPlan, so a flip here is a REAL plan change, not a
    // path or session artifact. The baseline updates in place each run:
    // committing it alongside the round's code is what arms the next
    // round's diff. An unreadable baseline is reported and left untouched.
    val tierKey = new java.io.File(sfDir).getName
    val plansPath = Paths.get("bench_plans.json")
    val prevPlans: Option[Map[String, Map[String, String]]] =
      if (!Files.exists(plansPath)) Some(Map.empty)
      else try Some(Json.read[Map[String, Map[String, String]]](Files.readString(plansPath)))
      catch { case e: Throwable => fail("bench_plans.json/read", e); None }
    val prevShas = prevPlans.flatMap(_.get(tierKey)).getOrElse(Map.empty)
    val planChanged = planShas.collect {
      case (n, s) if prevShas.get(n).exists(_ != s) => n
    }
    // write back this tier's fingerprints, preserving the other tiers' maps
    // AND this tier's entries for queries outside the current name filter —
    // a SPARK_GRAFT_BENCH_ONLY probe must refresh only what it measured,
    // not clobber the full-set baseline down to its subset
    prevPlans.foreach { plans =>
      val merged = (plans + (tierKey -> (prevShas ++ planShas)))
        .map { case (tier, shas) => tier -> TreeMap(shas.toSeq: _*) }
      try Files.writeString(plansPath, Json.write(TreeMap(merged.toSeq: _*)) + "\n")
      catch { case e: Throwable => fail("bench_plans.json/write", e) }
    }
    // headline stays min-of-reps; rep_times persists EVERY rep so a
    // round-over-round swing is attributable (did the reps agree, or did
    // one environmental outlier poison the min?)
    def fmt(d: Double): Double =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the headline total stays the BATCH query set (comparable round over
    // round); the streaming micro-bench reports its own total beside the
    // per-entry times and events/s
    val total = results.filter(_._2.nonEmpty).map(_._2.min).sum
    val streamTotal = streamResults.filter(_._2.nonEmpty).map(_._2.min).sum
    val head = ListMap[String, Any](
      "metric" -> "total",
      "value" -> fmt(total),
      "unit" -> "sec",
      "queries" -> ListMap(all.map { case (k, ts, _) =>
        k -> (if (ts.nonEmpty) Some(fmt(ts.min)) else None) }: _*),
      "noisy" -> all.collect { case (name, _, true) => name },
      "stream_total_sec" -> fmt(streamTotal),
      "stream_events_per_sec" -> ListMap(streamResults.collect {
        case (n, ts, _) if ts.nonEmpty => n -> (eventsRows / ts.min).toLong }: _*),
      "stream_state" -> ListMap(streamDefs.map(_._1)
        .flatMap(n => streamStateInfo.get(n).map(n -> _)): _*),
      "stream_feed" -> ListMap("chunks" -> feedChunks, "prep_sec" -> fmt(feedPrepSec)),
      "index_build_sec" -> ListMap(indexBuildSecs.toSeq.map { case (n, t) => n -> fmt(t) }: _*),
      "failed" -> all.collect { case (k, ts, _) if ts.isEmpty => k },
      "plan_changed" -> planChanged,
      "concurrent" -> (concurrentAtStart ++ concurrentGraftJvms()).distinct,
      "reps" -> reps,
      "shuffle" -> shuffle.toInt,
      "sf" -> sfDir)
    val full = head ++ ListMap(
      "rep_times" -> ListMap(all.map { case (k, ts, _) => k -> ts }: _*),
      "plan_sha" -> ListMap(planShas: _*),
      "errors" -> errors)
    // capture-proof artifact first, THEN the stdout line the driver tails.
    // The stdout line is the COMPACT form — totals, per-query min, noisy /
    // failed — WITHOUT rep_times/plan_sha/errors: the full line is several
    // KB and the driver's tail-capture front-truncated it two rounds
    // running ("parsed": null); the ~1 KB summary always survives, and the
    // full record lives in bench_out.json.
    try Files.writeString(Paths.get("bench_out.json"), Json.write(full) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_out.json not written: ${e.getClass.getName}: ${e.getMessage}")
    }
    println(Json.write(head + ("detail" -> "bench_out.json")))
    spark.stop()
  }
}
