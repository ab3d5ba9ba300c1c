package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Central SparkSession factory for the engine.
  *
  * The reference (`/root/reference/Migration/migration.py:2085-2241`) hand-rolls
  * a multiprocessing worker pool per server node; on Spark the equivalent
  * "physical policy" is session-level: shuffle partitioning sized to the
  * cluster, AQE for runtime re-planning (skew join splitting, partition
  * coalescing), and broadcast thresholds for the catalog-sized dimension
  * tables. At 100 TB the same settings scale by raising
  * `spark.sql.shuffle.partitions` to O(cores); locally we pin to the thread
  * count so tiny shuffles don't fan out into 200 empty tasks.
  */
object Engine {

  /** Recursive on-disk byte size of a data directory (0 if absent). */
  def dataBytes(dir: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(sz).sum
      else f.length()
    val root = new java.io.File(dir)
    if (root.exists()) sz(root) else 0L
  }

  /** Shuffle-width POLICY: partitions scale with input bytes so per-partition
    * shuffle state stays flat as data grows, instead of being pinned to core
    * count. Measured basis (SCALE.md, round 8): d2's banded-join shuffle
    * carries ~10× the input bytes (shingle/signature blow-up); at the sf10
    * tier (~1.8 GB input) a fixed 32-wide shuffle is spill-bound
    * (23×/decade wall growth) while 128-wide is linear (10×/decade). Sizing
    * at one partition per 16 MB of INPUT puts the worst operator's shuffle
    * partitions at ~128–192 MB — Spark's recommended shuffle-block regime —
    * and lands the sf10 tier at ~110 partitions, in the measured-linear
    * band. Floored at core count (small tiers keep the round-comparable
    * local geometry; AQE coalesce folds tiny shuffles back down anyway) and
    * capped at 4096 (at 100 TB real deployments size to the cluster, not
    * one JVM). */
  def shuffleWidth(dataDir: String, cores: Int): Int =
    math.min(4096L, math.max(cores.toLong, dataBytes(dataDir) / (16L << 20))).toInt

  /** Spread a CPU-dense projection's input across the session's policy
    * width, EXPLICITLY. A bare `repartition(key)` is a user repartition
    * without a pinned partition count, so AQE's byte-based coalescing is
    * free to fold it down — and does: the dedup/ANN spreads carry a few MB
    * of hashed rows whose downstream cost is FLOPS (md5 shingle hashing,
    * 96 minhash permutations, ×nplanes hyperplane dots), not bytes, and at
    * the bench tier AQE folded them to 1–2 tasks, serializing the whole
    * pipeline on one core (measured r15: d2 summed task time ≈ wall; d8
    * 1.48 s → 0.89 s once the projection ran wide). Pinning the count to
    * the session's policy width (`spark.sql.shuffle.partitions`, which
    * [[shuffleWidth]] already derives from tier bytes) keeps those stages
    * at engine parallelism at every tier; at the big tiers partitions are
    * large enough that coalescing never fired anyway, so this changes
    * nothing there. */
  def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, key)

  /** Shuffle width for STATEFUL STREAMING queries — same width-∝-data
    * policy, different constants, because the cost model differs: every
    * state-store commit writes a delta file per store per partition per
    * micro-batch (a stream-stream join keeps 4 stores/partition), a fixed
    * IO cost that exists even for near-empty partitions. Measured at sf0.1
    * (StreamProbe): the interval join's summed commit time collapses from
    * ~57 s at the 32-wide core floor to ~0.5 s at width 4 (wall 7.2 s →
    * 2.8 s) while the row-proportional work is too small to need the
    * cores. Width scales on the EVENTS table's bytes (the streamed input —
    * join/agg state is ~20× its parquet bytes in memory) at one partition
    * per 2 MB, floor 4, CAPPED AT CORES: unlike a batch exchange, going
    * wider than the executor slots buys no parallelism and every surplus
    * partition still pays its per-batch commit files — measured at sf10,
    * width 113 ran the interval join at 31.9 s vs 27.9 s at the 32-core
    * cap. So: sf0.1 → 4, sf1 → 10, sf10 → 32 locally; on a real cluster
    * the cap is the fleet's core count and the same policy fans out. */
  def streamShuffleWidth(dataDir: String, cores: Int): Int =
    math.min(math.max(4L, cores.toLong), math.max(4L,
      dataBytes(s"$dataDir/events.parquet") / (2L << 20))).toInt

  /** Feed-chunking POLICY for replaying a static events tier as a stream
    * (see `EventStream.timeOrderedFeed`). Chunking bounds STATE DEPTH: the
    * watermark only advances between micro-batches, so a one-batch replay
    * buffers the whole feed (sf100 stream-stream join: ~20 GB of RocksDB
    * state, month-deep probes, 1903 s = 70×/decade). But every extra
    * micro-batch pays a per-store-per-partition commit cost AND re-touches
    * any state row that spans batches, so whether chunking wins is a
    * property of the OPERATOR's state shape, both directions measured at
    * sf100 (8 chunks, RocksDB):
    *
    *  - JOIN-BUFFERED state (stream-stream joins): every probe scans the
    *    key's full buffered history, so cost ∝ state depth — chunking
    *    halves the wall (st6 991 s vs 1903 s) by cutting probe depth from
    *    month-deep (~67 rows/key) to chunk+interval-deep (~8).
    *  - KEYED-MERGE state (session windows, keyed aggs): each batch
    *    re-reads and rewrites every live key it touches, so chunking
    *    MULTIPLIES row updates (185.9M vs 98.5M) and the wall
    *    (st5 368 s vs 140 s) — single-batch replay stays right.
    *
    * On top of the shape gate, the provider gate: in the in-memory regime
    * ([[stateStoreProvider]]'s quarter-heap projection) even join state is
    * cheap to hold and per-batch commits dominate (sf10: 4-chunk feed ran
    * st6 1.5× slower than single-batch), so chunking engages only when
    * the SAME projection has already pushed state to RocksDB. Chunk count
    * is one per ~256 MB of events parquet, capped at 16: the measured
    * sf100 cost fit (fixed ~720 s JNI put/get + probe ∝ depth/chunks +
    * commit ∝ chunks) is flat-bottomed around 8, and 16 already pays more
    * commit than it saves in probe depth. */
  def streamFeedChunks(dataDir: String, joinBuffered: Boolean,
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Int =
    if (!joinBuffered ||
        stateStoreProvider(dataDir, maxHeapBytes) != RocksDbStateStore) 1
    else math.min(16L, math.max(2L,
      dataBytes(s"$dataDir/events.parquet") / (256L << 20))).toInt

  /** In-memory (executor-heap) state store — Spark's default provider. */
  val HdfsStateStore =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** State-store PROVIDER policy — same shape as the width policies:
    * measured constants, keyed on the tier's bytes, env-overridable for
    * A/B probes (`SPARK_GRAFT_STATESTORE=rocksdb|memory`).
    *
    * Measured at sf0.1 (StreamProbe, this box): the in-memory provider
    * runs the stream-stream interval join 2.4× faster than RocksDB
    * (st6 2.65 s vs 6.5 s; addBatch dominated by RocksDB's per-op JNI +
    * serialization cost, which no width or changelog knob removes — the
    * constant is the price of off-heap state). That price buys the only
    * thing that matters at scale: state no longer bounded by executor
    * heap. So the policy projects the streaming state (events bytes ×
    * ~20 in-memory expansion, the same factor streamShuffleWidth
    * documents) against a quarter of the heap: under it, the in-memory
    * provider wins and is safe; over it, RocksDB is the only provider
    * that finishes at all (the sf100 tier's interval join carries tens
    * of GB of state — no heap holds that). Unknown tier → RocksDB, the
    * scale-safe default. */
  def stateStoreProvider(dataDir: String,
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): String = {
    val projected = dataBytes(s"$dataDir/events.parquet") * 20
    sys.env.get("SPARK_GRAFT_STATESTORE") match {
      case Some("rocksdb") => RocksDbStateStore
      case Some("memory") => HdfsStateStore
      case _ => if (projected > maxHeapBytes / 4) RocksDbStateStore
                else HdfsStateStore
    }
  }

  /** IO-codec POLICY (shuffle/spill/broadcast/checkpoint blocks): lz4
    * under [[ZstdTierBytes]], zstd above it. Measured A/B (this box,
    * sf0.1, min of 3 reps): engine-wide zstd is a ~3x WALL regression at
    * small shuffle sizes (q3 0.86 s -> 2.87 s, d2 1.91 s -> 6.92 s, st5
    * 63k -> 29k events/s) — per-stream codec constants dominate when
    * blocks are KBs. At a lineitem-scale tier the constraint inverts:
    * the sf100 run's q21 double self-join carries ~3x the 15.5 GB fact
    * table as LIVE lz4 shuffle+sort-spill and ENOSPC'd a ~50 GB scratch
    * budget (attempt 3), while zstd's ~2-3x denser blocks cost only
    * per-byte CPU that 32 cores amortize into seconds. Production fleets
    * run zstd shuffle at exactly this scale for the same reason.
    * Env-overridable for A/B probes (`SPARK_GRAFT_CODEC=lz4|zstd`). */
  val ZstdTierBytes: Long = 8L << 30
  def ioCodec(dataDir: String): String =
    sys.env.get("SPARK_GRAFT_CODEC").getOrElse(
      if (dataBytes(dataDir) > ZstdTierBytes) "zstd" else "lz4")

  /** Budget for an EXPLICIT broadcast() hint on an index-sized build side:
    * an eighth of the driver heap, capped at 2 GB. Spark's hard build-side
    * limit is 8 GB; the 4× margin keeps the hashed relation plus its
    * build-time transient (collected rows before the relation exists)
    * inside sane driver memory. An explicit hint is attempted REGARDLESS
    * of size and fails hard at the limit — so every hint the engine plants
    * on a contractually-small-but-unbounded side (corpus fingerprints,
    * eval bucket tables) is gated on this budget and omitted over it,
    * letting the join plan shuffled instead of dying mid-query. */
  def broadcastBudget(maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    math.min(2L << 30, maxHeapBytes / 8)

  /** Budget-gate an explicit broadcast hint on a side whose size SCALES
    * with the tier (the same policy `Dedup.minhashLshCrossPairs` /
    * `Similarity.gatedVecBroadcast` apply with operator-specific row-size
    * models): under budget the hint is planted, over it the hint is
    * omitted and the join plans shuffled — degraded, never dead at Spark's
    * 8 GB broadcast ceiling or a driver OOM. `estimatedBytes` is the
    * caller's hashed-relation estimate (e.g. parquet bytes × an expansion
    * factor); fixed-cardinality dims (nation/region) keep their
    * unconditional hints. */
  def gatedBroadcast(df: DataFrame, estimatedBytes: Long,
      budget: Long = broadcastBudget()): DataFrame =
    if (estimatedBytes <= budget)
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** Hashed-relation bytes per parquet byte for a broadcast estimate:
    * snappy/dictionary-encoded parquet expands ~4–6× into UnsafeRow form
    * and the relation adds bucket/pointer overhead; 8× is the conservative
    * ceiling (same spirit as [[StagedBytesFactor]]). */
  val BroadcastBytesPerParquetByte = 8L

  /** Deserialized staged-intermediate bytes per tier parquet byte. The
    * evictable objects are the STAGED frames (shingle tables, LSH bucket
    * tables, SRP signatures), which are multiples of the source tier:
    * d2's banded-join shuffle carries ~10× the input bytes (measured,
    * SCALE.md) and cached deserialized rows inflate parquet bytes several
    * fold before any blow-up. 4× is the conservative floor of that range —
    * enough that the 21.5 GB sf100 tier (whose raw bytes sat BELOW heap/2
    * at a 48 GiB heap while its staged intermediates evicted and died in
    * the eviction-vs-shuffle-GC race) now projects over the line. */
  val StagedBytesFactor = 4L

  /** Durable-stage POLICY (see [[Stage]]): local checkpoints are only safe
    * while staged intermediates can't evict; once their PROJECTED footprint
    * (tier bytes × [[StagedBytesFactor]]) crosses half the heap they can,
    * and an evicted block's recompute races the periodic shuffle GC.
    * Env-overridable for A/B probes (`SPARK_GRAFT_STAGE=durable|local`). */
  def durableStagePolicy(dataDir: String,
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Boolean =
    sys.env.get("SPARK_GRAFT_STAGE") match {
      case Some("durable") => true
      case Some("local") => false
      case _ => dataBytes(dataDir) * StagedBytesFactor > maxHeapBytes / 2
    }

  /** Apply the durable-stage policy to a session: sets the conf flag Stage
    * reads and (when durable) a checkpoint dir. Called at session CREATION
    * only — flipping the flag on a live session would change the staging
    * policy under other code mid-run. */
  private def applyDurableStage(sp: SparkSession, durable: Boolean): Unit = {
    sp.conf.set("spark.graft.durableStage", durable.toString)
    if (durable && sp.sparkContext.getCheckpointDir.isEmpty)
      sp.sparkContext.setCheckpointDir(
        s"${System.getProperty("java.io.tmpdir")}/graft-ckpt-${sp.sparkContext.applicationId}")
  }

  /** The `spark.hadoop.*` entries of every session, and of [[hadoopConf]]. */
  private val HadoopSettings: Map[String, String] = Map(
    // local files set their mode through java.nio, not a forked `chmod`
    // per create and mkdirs (see LocalFs)
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName)

  /** The Hadoop configuration a session from [[session]] carries, built
    * without one: Spark's own conversion of a SparkConf (the JVM's `spark.*`
    * properties plus [[HadoopSettings]]) into a Configuration. For a phase
    * that reads and writes only control files and scripts. */
  def hadoopConf(): Configuration =
    GraftBridge.hadoopConf(new SparkConf().setAll(HadoopSettings))

  /** The engine's only session builder: the CLI, Bench, Verify, the tools
    * and the test suite all get their physical policy here, so correctness
    * and performance are checked under the same config. */
  def session(appName: String = "graft", cpus: Option[String] = None,
      dataDir: Option[String] = None): SparkSession = {
    val n = cpus.orElse(sys.env.get("SPARK_GRAFT_CPUS"))
      .getOrElse(Runtime.getRuntime.availableProcessors().toString)
    // width derives from the data tier when known; SPARK_GRAFT_SHUFFLE
    // stays as an explicit probe override (A/B runs, SCALE.md experiments)
    val width = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .orElse(dataDir.map(d => shuffleWidth(d, n.toInt).toString))
      .getOrElse(n)
    val durableStage = dataDir.exists(durableStagePolicy(_))
    // getOrCreate may REUSE a live session; remember it so the staging
    // policy is only applied to sessions this call actually creates —
    // re-deriving it from a new call's dataDir would silently flip the
    // policy for other code holding the same session mid-run
    val pre = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filter(s => !s.sparkContext.isStopped)
    val sp = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      // TopK planner strategy + rolling_hash / dot_product SQL functions,
      // installed once at creation (sessions forked with newSession keep them)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(HadoopSettings)
      // Source.parquet forks a session per call; per-session artifact
      // isolation would give each fork its own class loader, and the
      // codegen cache is keyed by loader, so each fork would compile
      // identical classes again. Nothing here adds session artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // the cache's default 100 classes are split across its segments; one
      // migration compiles about 80, so a default-sized cache has evicted
      // most of them before the next migration needs them
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // events.parquet `ts` in TIMESTAMP(NANOS) reads as raw longs, which
      // Tables.load and EventStream rescale; Spark 4 rejects it otherwise
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the bench tiers are SINGLE parquet files; without sub-file splits
      // every scan (and the partial agg riding it) is one task, which
      // serializes the map side exactly where a real cluster would fan out
      // over row groups. Spark splits at min(maxPartitionBytes, max(4 MB,
      // bytes/cores)), so 16m only bites above ~64 MB scanned on 4 cores
      // (the sf1 tier's 120 MB lineitem reads as ~8 scan partitions).
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // release finished queries' shuffle files promptly: big heaps GC so
      // rarely that the ContextCleaner otherwise never fires and dead
      // shuffle data accumulates until the disk fills (the first sf100
      // bench attempt died ENOSPC mid-warmup with ~50 GB of orphaned
      // shuffle dirs). 1min, not 5min: dead-shuffle DWELL TIME is what
      // stacks rep N's garbage under rep N+1's live writes — the third
      // sf100 attempt ENOSPC'd with most of the dead bytes still inside the
      // 5min window. SPARK_GRAFT_GC_INTERVAL overrides it for the scale
      // tiers: d2's sf100 recording produced dead shuffle at ~6 GB/min and
      // needed a 20s reclaim lag (tools/bench_sf100.sh sets it).
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_GC_INTERVAL", "1min"))
      // single-JVM local mode: losing the only executor to a missed
      // heartbeat is fatal, and the periodic System.gc() above can pause
      // a large heap past the 120s default (measured 149s at 64g — see
      // run_tool.sh's ExplicitGCInvokesConcurrent). Cluster
      // deployments keep the defaults; local mode self-pings.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      // tier-keyed codec policy — see [[ioCodec]]: lz4 at small tiers
      // (zstd's per-stream constants are a measured 3x wall regression
      // there), zstd once shuffle-disk is the binding constraint
      .config("spark.io.compression.codec",
        dataDir.map(ioCodec).getOrElse(
          sys.env.get("SPARK_GRAFT_CODEC").getOrElse("lz4")))
      // checkpoint blocks are UNCOMPRESSED by default; the durable-Stage
      // policy (above threshold) writes corpus-sized frames there, so an
      // sf100 run carried 8+ GB of raw checkpoint bytes for ~2 GB of data
      .config("spark.checkpoint.compress", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        dataDir.map(stateStoreProvider(_)).getOrElse(
          sys.env.get("SPARK_GRAFT_STATESTORE") match {
            case Some("memory") => HdfsStateStore
            case _ => RocksDbStateStore
          }))
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      // RocksDB NATIVE memory: by default every store instance gets its
      // own 64 MB memtable + 8 MB block cache — a stream-stream join at
      // width 32 runs 128 instances, so probes against multi-GB state hit
      // an 8 MB cache and read SSTs from disk. Bound the native budget to
      // ONE shared pool (quarter of the heap-equivalent, capped 16 GB) so
      // hot state stays cached; env-overridable for A/B probes. */
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        "true")
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_MEM_MB",
          math.min(16384L, Runtime.getRuntime.maxMemory() / (4L << 20)).toString))
      // reclaim checkpoint files of dereferenced frames: self-contained
      // files, so (unlike shuffle cleanup) a clean cannot strand a reader
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    if (!pre.contains(sp)) applyDurableStage(sp, durableStage)
    sp
  }

  /** RocksDB state store: state off-heap with block-cache + native disk
    * spill — the posture that holds when the session-window / stream-stream
    * join state of a 100 TB/day feed outgrows the JVM heap (the in-memory
    * default keeps every live state row on the executor heap). Selected by
    * [[stateStoreProvider]]'s size policy; changelog checkpointing is on
    * (incremental commit uploads, the production recommendation) and
    * per-commit row recounting off. Correctness on this provider is proven
    * by the StreamingSpec parity suite (Engine.session with no dataDir
    * defaults to RocksDB, so every streaming spec runs on it). */
  val RocksDbStateStore =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
